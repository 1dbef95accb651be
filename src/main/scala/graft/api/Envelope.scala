package graft.api

import org.apache.spark.sql.DataFrame

/** S9: the reference's unified JSON response envelope
  * (`backend/app/schemas/common.py:9-63`) — every API response is
  * `{ok, data, error, meta}` where exactly one of data/error is non-null
  * and meta carries (source_name, metric, params, generated_at, version).
  *
  * This is pure presentation: `data` is the JSON row array of a result
  * DataFrame. The collect is bounded by `limit`, mirroring the reference's
  * 10k-row API read cap (`routers/anomaly_iforest.py:60`). A [[GraftApi]]
  * result is a local DataFrame, already computed and ordered from the
  * source's cached slice, so the limit and the JSON projection fold into it
  * on the driver and serializing starts no Spark job; any other DataFrame
  * runs its plan as usual.
  */
object Envelope {

  val Version = "0.7.0"

  /** JSON string escape, shared by the envelope, the oracle dump in Verify
    * and the bench summary.
    */
  private[graft] def esc(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def optStr(v: Option[String]): String = v.map(esc).getOrElse("null")

  private def objOrNull(kvs: Seq[(String, String)]): String =
    if (kvs.isEmpty) "null"
    else kvs.map { case (k, v) => s"${esc(k)}:${esc(v)}" }.mkString("{", ",", "}")

  /** The `ResponseMeta` twin: params drops nothing here because callers
    * pass only the params they set (the reference filters out Nones).
    */
  def meta(sourceName: Option[String] = None, metric: Option[String] = None,
           params: Seq[(String, String)] = Nil,
           generatedAt: String = java.time.Instant.now().toString): String =
    s"""{"source_name":${optStr(sourceName)},"metric":${optStr(metric)},""" +
      s""""params":${objOrNull(params)},"generated_at":${esc(generatedAt)},""" +
      s""""version":${esc(Version)}}"""

  /** Success envelope: `ok=true`, data = the (bounded) row array, error null.
    * Rows serialize with EXPLICIT nulls (`ignoreNullFields=false`): the
    * default `Dataset.toJSON` drops null-valued fields, which would give
    * rows inconsistent key sets and make null unrepresentable — the
    * reference envelope (schemas/common.py) always emits the full shape.
    */
  def ok(data: DataFrame, limit: Int = 10000,
         sourceName: Option[String] = None, metric: Option[String] = None,
         params: Seq[(String, String)] = Nil,
         generatedAt: String = java.time.Instant.now().toString): String = {
    import org.apache.spark.sql.functions.{struct, to_json, col}
    // Backtick-quote each name (doubling embedded backticks, the
    // parseAttributeName escape): a bare dotted name would be parsed as a
    // nested-field path and fail to resolve against a literal "a.b" column.
    def quoted(n: String) = col("`" + n.replace("`", "``") + "`")
    val rows = data.limit(limit)
      .select(to_json(struct(data.columns.map(quoted).toSeq: _*),
        Map("ignoreNullFields" -> "false")).as("j"))
      .collect().map(_.getString(0))
    s"""{"ok":true,"data":[${rows.mkString(",")}],"error":null,""" +
      s""""meta":${meta(sourceName, metric, params, generatedAt)}}"""
  }

  /** Error envelope: `ok=false`, data null, error = {code, message, details}. */
  def fail(code: String, message: String, details: Seq[(String, String)] = Nil,
           sourceName: Option[String] = None, metric: Option[String] = None,
           params: Seq[(String, String)] = Nil,
           generatedAt: String = java.time.Instant.now().toString): String =
    s"""{"ok":false,"data":null,"error":{"code":${esc(code)},""" +
      s""""message":${esc(message)},"details":${objOrNull(details)}},""" +
      s""""meta":${meta(sourceName, metric, params, generatedAt)}}"""
}
