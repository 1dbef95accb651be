package graft.store

import org.apache.spark.sql.DataFrame

/** One ledgered store family, declared once next to the code that fills
  * it. [[BatchStore]]'s family operations ([[BatchStore.maintain]],
  * [[BatchStore.land]], [[BatchStore.retire]], [[BatchStore.compactStore]],
  * [[BatchStore.live]], [[BatchStore.build]]) run its transaction from this
  * declaration alone.
  *
  * @param name       lock tags are `<name>-<op>` (`append`, `retire`,
  *                   `compact`, `reindex`, `build`, ...)
  * @param halves     the `batch=<id>` halves in publish order: a batch lands
  *                   its payload halves first and the LAST half is the
  *                   ledger (commit) half (contract 2)
  * @param retiredKey the column a `retired/batch=<r>` ledger names rows by;
  *                   empty for the count families, which retire by landing
  *                   negated deltas and keep no retirement ledger
  * @param swapped    the whole-table parts a `.prev` swap replaces besides
  *                   the batch halves (IVF centroids, LSH config, drift
  *                   base, decontam's Bloom words); healed with the halves
  * @param built      built whole under `_build-pending` (the IVF, LSH and
  *                   PQ indexes). These are also the families with a minor
  *                   compaction, so only their maintainers heal the minor
  *                   journal and only their probes refuse while it exists.
  * @param vacuum     a full compaction lands the ledger as one watermark;
  *                   false keeps a tombstone per merged id (the ANN
  *                   lifecycle gates pin caller-driven vacuums)
  */
final case class StoreFamily(
    name: String,
    halves: Seq[StoreFamily.Half],
    retiredKey: String = "",
    swapped: Seq[String] = Nil,
    built: Boolean = false,
    vacuum: Boolean = true) {

  /** The ledger half: its `batch=<id>` dir publishes a batch. */
  def ledger: String = halves.last.name

  /** Every dir a maintainer heals before it mutates the store. */
  def healed: Seq[String] = halves.map(_.name) ++ swapped

  def half(h: String): StoreFamily.Half =
    halves.find(_.name == h).getOrElse(
      throw new IllegalArgumentException(s"$name store has no half '$h'"))
}

object StoreFamily {

  /** One `batch=<id>` half of a family.
    *
    * @param keys   the columns retirement liveness filters on, each in turn
    *               against the family's `retiredKey` (MinHash pairs: doc_a,
    *               then doc_b); the first half's first key is the column a
    *               retirement batch is written from
    * @param layout how compaction lays the merged rows out
    * @param merge  the sum-merge compaction applies to a count half (LM,
    *               DSIR, drift); row halves merge by union
    */
  final case class Half(name: String, keys: Seq[String] = Nil,
                        layout: BatchStore.Layout = BatchStore.rebalanced(),
                        merge: Option[DataFrame => DataFrame] = None)
}
