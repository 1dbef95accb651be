package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.Graft
import graft.store.{BatchStore, LocalFs}
import graft.streaming.StreamingPipeline
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** The session's `file:` scheme: [[graft.store.LocalFs]] gives the stock
  * local file system's mode bits and statuses without starting a process,
  * and streaming checkpoints go through it too.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val FileImpl = "spark.hadoop.fs.file.impl"
  private lazy val conf = spark.sparkContext.hadoopConfiguration
  private lazy val fs = FileSystem.get(new java.net.URI("file:///"), conf)
  private def tmp(tag: String) = Files.createTempDirectory(s"graft_localfs_$tag").toString
  /** The octal mode of `p`, special bits included. */
  private def mode(p: String): String =
    Integer.toOctalString(Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff)

  /** The `jdk.ProcessStart` events JFR records while `body` runs. */
  private def processStarts(body: => Unit): Int = processCommands(body).size

  /** The commands of the processes started while `body` runs. */
  private def processCommands(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    val out = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("the session's file: scheme is graft.store.LocalFs") {
    assert(fs.isInstanceOf[LocalFs], fs.getClass.getName)
  }

  test("an explicit spark.hadoop.fs.file.impl wins over the default") {
    assert(Graft.perfConfs(Map.empty[String, String]).toMap.get(FileImpl)
      .contains(classOf[LocalFs].getName))
    val stock = classOf[LocalFileSystem].getName
    assert(Graft.perfConfs(Map(FileImpl -> stock)).toMap.get(FileImpl).contains(stock))
  }

  test("mode bits and statuses equal the stock local file system's") {
    val stock = new LocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), conf)
    val dir = tmp("modes")
    val paths = Seq("a", "a/b", "a/b/part-0", "a/b/.part-0.crc", "m", "m/n", "private",
      "sticky", "setgid", "setgid/child", "setgid/child/part-0")
    def build(f: FileSystem, root: String): Seq[(String, String)] = {
      BatchStore.writeFile(f, new Path(s"$root/a/b/part-0"), "x")
      f.mkdirs(new Path(s"$root/m/n"))
      f.mkdirs(new Path(s"$root/private"), new FsPermission("700"))
      f.setPermission(new Path(s"$root/a/b/part-0"), new FsPermission("640"))
      f.setPermission(new Path(s"$root/m"), new FsPermission("750"))
      f.mkdirs(new Path(s"$root/sticky"))
      f.setPermission(new Path(s"$root/sticky"), new FsPermission("1775"))
      // a setgid parent: new dirs inherit the bit, and `chmod` keeps it
      f.mkdirs(new Path(s"$root/setgid"))
      assert(new ProcessBuilder("chmod", "g+s", s"$root/setgid").start().waitFor() == 0)
      BatchStore.writeFile(f, new Path(s"$root/setgid/child/part-0"), "x")
      f.setPermission(new Path(s"$root/setgid/child"), new FsPermission("750"))
      paths.map(p => p -> mode(s"$root/$p"))
    }
    val ours = build(fs, s"$dir/ours")
    assert(ours == build(stock, s"$dir/stock"))
    val umask = FsPermission.getUMask(conf).toShort
    val modes = ours.toMap
    assert(modes("a/b") == Integer.toOctalString(0x1ff & ~umask) && modes("private") == "700")
    assert(modes("sticky") == "1775" && modes("setgid/child") == "2750", modes)
    for (p <- paths) {
      val (a, b) = (fs.getFileStatus(new Path(s"$dir/ours/$p")), stock.getFileStatus(new Path(s"$dir/ours/$p")))
      assert((a.getPermission, a.getOwner, a.getGroup, a.getLen, a.isDirectory, a.getModificationTime,
        a.getPath) == (b.getPermission, b.getOwner, b.getGroup, b.getLen, b.isDirectory,
        b.getModificationTime, b.getPath), p)
    }
    assert(fs.listStatus(new Path(s"$dir/ours/a/b/part-0")).map(_.getPermission).toSeq ==
      Seq(new FsPermission("640")))
    stock.close()
  }

  test("a partitioned write, a publish and a hasData listing start no process") {
    assert(processStarts(new ProcessBuilder("true").start().waitFor()) == 1,
      "the recording must see a process start")
    val dir = tmp("forks")
    val events = (0 until 600).toDF("i")
      .withColumn("d", date_add(lit("2024-01-01").cast("date"), $"i" % 30))
    spark.range(1).count()
    val starts = processStarts {
      events.write.partitionBy("d").parquet(s"$dir/events")
      BatchStore.publish(fs, s"$dir/store", 1L)(events.repartition(4).write.parquet(_))
      assert(BatchStore.hasData(fs, new Path(s"$dir/store/batch=1")))
    }
    assert(new java.io.File(s"$dir/events").list().count(_.startsWith("d=")) == 30)
    assert(fs.listStatus(new Path(s"$dir/store/batch=1")).length >= 4)
    assert(starts == 0)
  }

  test("a maintain drain and its restart on the same checkpoint start no process") {
    val dir = tmp("stream")
    val in = s"$dir/in"; val store = s"$dir/store"
    (0 until 40).toDF("i").repartition(4).write.parquet(in)
    // one file per micro-batch, each landing as its own store batch
    def drain(): Unit = StreamingPipeline.maintain(
        spark.readStream.schema("i INT").option("maxFilesPerTrigger", "1").parquet(in),
        s"$dir/ck") { (b, id) => BatchStore.publish(fs, store, id)(b.write.parquet(_)) }
      .start().awaitTermination()
    spark.range(1).count()
    val starts = processCommands {
      drain()
      (40 until 60).toDF("i").repartition(2).write.mode("append").parquet(in)
      drain()
    }
    assert(BatchStore.batchIds(fs, store) == (0L until 6L))
    assert(spark.read.parquet(store).count() == 60L)
    // Spark's own cleaner may `rm -rf` a finished query session's artifact
    // dir whenever the garbage collector reaches it; nothing else may fork
    val forks = starts.filterNot(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    assert(forks.isEmpty, forks)
  }
}
