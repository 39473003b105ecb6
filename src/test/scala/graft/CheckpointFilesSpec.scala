package graft

import graft.streaming.LocalCheckpointFiles
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** graft's streaming checkpoint file manager ([[LocalCheckpointFiles]]):
  * its atomic-publish contract on the local filesystem, that every graft
  * session writes checkpoints through it, and that one checkpoint can be
  * resumed across it and Spark's default manager in either direction.
  */
class CheckpointFilesSpec extends SparkSpec {

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def tmp(): String = Files.createTempDirectory("graft-ckpt").toString
  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def manager(dir: String) = new LocalCheckpointFiles(new Path(dir), new Configuration())

  private def write(fm: LocalCheckpointFiles, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(b(s))
    out.close()
  }

  private def read(fm: LocalCheckpointFiles, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Every name in `dir`, dot files included. */
  private def names(dir: String): Seq[String] = new File(dir).list().toSeq.sorted

  test("createAtomic without overwrite onto an existing file fails and keeps the old bytes") {
    val dir = tmp()
    val fm = manager(dir)
    val f = new Path(s"$dir/0")
    write(fm, f, "old", overwrite = false)
    intercept[FileAlreadyExistsException] { write(fm, f, "new", overwrite = false) }
    assert(read(fm, f) == "old")
    assert(names(dir) == Seq("0"), "the failed write left its temp file behind")
  }

  test("createAtomic with overwrite replaces the file") {
    val dir = tmp()
    val fm = manager(dir)
    val f = new Path(s"$dir/0")
    write(fm, f, "old", overwrite = false)
    write(fm, f, "new", overwrite = true)
    assert(read(fm, f) == "new")
    assert(names(dir) == Seq("0"))
  }

  test("cancel leaves nothing behind") {
    val dir = tmp()
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(s"$dir/0"), false)
    out.write(b("half"))
    out.cancel()
    out.close() // a cancelled stream publishes nothing on close
    assert(names(dir).isEmpty)
    assert(!fm.exists(new Path(s"$dir/0")))
  }

  test("list applies its filter and skips temp files and checksum sidecars") {
    val dir = tmp()
    val fm = manager(dir)
    Seq("0", "1", "x").foreach(n => write(fm, new Path(s"$dir/$n"), n, overwrite = false))
    Files.write(new File(dir, ".0.crc").toPath, b("crc"))
    val open = fm.createAtomic(new Path(s"$dir/2"), false) // its temp file is in dir now
    try {
      assert(names(dir).exists(_.startsWith(".2.")))
      val listed = fm.list(new Path(dir), (p: Path) => p.getName.forall(_.isDigit))
      assert(listed.map(_.getPath.getName).sorted.toSeq == Seq("0", "1"))
      assert(listed.forall(s => s.getPath.toUri.getScheme == "file" && s.getLen == 1 && !s.isDirectory))
      assert(fm.list(new Path(dir)).map(_.getPath.getName).sorted.toSeq == Seq("0", "1", "x"))
    } finally open.cancel()
  }

  test("delete is recursive, removes a file's sidecar and is quiet on a missing path") {
    val dir = tmp()
    val fm = manager(dir)
    fm.mkdirs(new Path(s"$dir/a/b/c"))
    write(fm, new Path(s"$dir/a/b/c/0"), "x", overwrite = false)
    write(fm, new Path(s"$dir/a/1"), "y", overwrite = false)
    write(fm, new Path(s"$dir/2"), "z", overwrite = false)
    Files.write(new File(dir, ".2.crc").toPath, b("crc"))
    fm.delete(new Path(s"$dir/a"))
    fm.delete(new Path(s"$dir/2"))
    assert(names(dir).isEmpty)
    fm.delete(new Path(s"$dir/missing"))
  }

  test("only local paths are written with java.nio") {
    val conf = new Configuration()
    assert(LocalCheckpointFiles.isLocalPath(new Path("/tmp/x"), conf))
    assert(LocalCheckpointFiles.isLocalPath(new Path("file:/tmp/x"), conf))
    assert(!LocalCheckpointFiles.isLocalPath(new Path("hdfs://nn:8020/x"), conf))
    assert(manager(tmp()).isLocal)
  }

  // ---- through streaming queries

  private def cfg(dir: String) = Cli.ConsumeConfig(streams = Seq("s1"),
    iterator = "TRIM_HORIZON", verbose = true, spool = dir)

  /** One AvailableNow drain of the spool into `<dir>/_out`, checkpointed at `<dir>/_ckpt`. */
  private def drain(session: SparkSession, dir: String): Unit = {
    val q = Cli.consumeFrame(session, cfg(dir)).writeStream
      .format("parquet").option("path", s"$dir/_out").option("checkpointLocation", s"$dir/_ckpt")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "the drain did not finish within 60 s")
  }

  private def crcs(dir: String, log: String): Seq[String] =
    Option(new File(s"$dir/_ckpt/$log").list()).toSeq.flatten.filter(_.endsWith(".crc"))

  /** Sequence numbers of the verbose lines the drains wrote. */
  private def delivered(dir: String): Seq[Long] =
    spark.read.parquet(s"$dir/_out").collect().map(_.getString(0).split(" ")(4).toLong).toSeq.sorted

  test("a drain writes its offsets and commits through graft's manager: no .crc sidecars") {
    assert(spark.conf.get(managerKey) == classOf[LocalCheckpointFiles].getName)
    val dir = tmp()
    Spool.put(dir, "s1", "shardId-000000000000", 1, "k1", b("r1"))
    drain(spark, dir)
    Seq("offsets", "commits").foreach { log =>
      assert(new File(s"$dir/_ckpt/$log/0").isFile, s"$log/0 was not written")
      assert(crcs(dir, log).isEmpty, s"$log holds ${crcs(dir, log)}")
    }
  }

  /** Three drains over one checkpoint, a record added before each: the
    * first and third with `first`, the second with `second`. Every record
    * must arrive exactly once. Returns the offset log's sidecars after each
    * drain, which show the manager that wrote each batch.
    */
  private def resumeAcross(first: SparkSession, second: SparkSession): Seq[Seq[String]] = {
    val dir = tmp()
    val sidecars = Seq(first, second, first).zipWithIndex.map { case (session, i) =>
      val seq = i + 1L
      Spool.put(dir, "s1", "shardId-000000000000", seq, s"k$seq", b(s"r$seq"))
      drain(session, dir)
      crcs(dir, "offsets").sorted
    }
    assert(delivered(dir) == Seq(1L, 2L, 3L), "each record delivered exactly once across managers")
    sidecars
  }

  private def defaultManagerSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.unset(managerKey)
    s
  }

  test("Spark's default manager's checkpoint resumes under graft's, and back") {
    assert(resumeAcross(defaultManagerSession(), spark) ==
      Seq(Seq(".0.crc"), Seq(".0.crc"), Seq(".0.crc", ".2.crc")))
  }

  test("graft's manager's checkpoint resumes under Spark's default, and back") {
    assert(resumeAcross(spark, defaultManagerSession()) ==
      Seq(Seq(), Seq(".1.crc"), Seq(".1.crc")))
  }
}
