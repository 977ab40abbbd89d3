package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.LongType

import graft.SparkTestBase

/** [[StateLog]]'s replay contract on one table `t` of bigint rows `v`:
  * readers see exactly what the newest entry names, whatever a crash
  * leaves behind, and the loops keep every state write inside the log.
  */
class StateLogSpec extends SparkTestBase {
  import spark.implicits._
  import LogProbes._

  private def fresh(): (StateLog, String) = {
    val dir = Files.createTempDirectory("graft-statelog").toFile.getAbsolutePath
    (StateLog(spark, dir), s"$dir/t")
  }
  private def write(log: StateLog, t: String, id: Long, vs: Long*): Unit =
    log.trigger(id)(_.write(t, vs.toDF("v")))
  private def values(log: StateLog, t: String): Seq[Long] =
    log.read(t).get.as[Long].collect().sorted.toSeq
  private def subdirs(t: String): Set[String] =
    Files.list(Paths.get(t)).iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
  private def files(t: String)(keep: Path => Boolean): Unit =
    Files.walk(Paths.get(t)).iterator().asScala.toSeq.filter(Files.isRegularFile(_))
      .filterNot(keep).foreach(Files.delete)

  test("a committed zero-row batch reads as empty with the declared schema") {
    val (log, t) = fresh()
    write(log, t, 0L)
    // what a committer may leave for a zero-row job: no part file, and no
    // _SUCCESS marker (marksuccessfuljobs=false) — the log reads neither
    files(t)(_ => false)
    val empty = log.read(t).get
    assert(empty.count() == 0L)
    assert(empty.schema.map(f => f.name -> f.dataType) == Seq("v" -> LongType))
    write(log, t, 1L, 4L, 5L)
    files(t)(!_.getFileName.toString.contains("_SUCCESS"))
    assert(values(log, t) == Seq(4L, 5L))
    assert(log.compact(Seq(t -> Seq("v")), 128L << 20, 1) == Map(t -> 1))
    assert(values(log, t) == Seq(4L, 5L))
    assert(subdirs(t) == Set(s"gen=${log.last.seq}"))
  }

  test("a read over 33 live batch directories launches no Spark job") {
    val (log, t) = fresh()
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "32",
      "33 directories must exceed the listing threshold")
    (0L until 33L).foreach(i => write(log, t, i, i))
    val (df, jobs) = jobsDuring(spark)(log.read(t).get)
    assert(jobs == 0, s"the read launched $jobs jobs")
    assert(df.as[Long].collect().sorted.toSeq == (0L until 33L))
    // probe sanity: one root over the same directories is listed by a job
    val (_, rootJobs) = jobsDuring(spark)(spark.read.schema("v BIGINT, batch_id INT").parquet(t))
    assert(rootJobs > 0, "the probe must see a listing job")
  }

  test("a crash after a compaction's write and before its commit leaves the old generation live") {
    val (log, t) = fresh()
    write(log, t, 0L, 1L, 2L)
    write(log, t, 1L, 3L)
    // the compaction's write, its commit never made
    Seq(1L, 2L, 3L).toDF("v").write.parquet(s"$t/gen=${log.last.seq + 1}")
    assert(values(log, t) == Seq(1L, 2L, 3L), "the unnamed generation must not be read")
    write(log, t, 2L, 4L)
    assert(values(log, t) == Seq(1L, 2L, 3L, 4L))
    log.compact(Seq(t -> Seq("v")), 128L << 20, 1)
    assert(values(log, t) == Seq(1L, 2L, 3L, 4L))
    assert(subdirs(t) == Set(s"gen=${log.last.seq}"), "the next compaction deletes the leftover")
  }

  test("a crash after a compaction's commit and before its deletes reads the new generation only") {
    val (log, t) = fresh()
    write(log, t, 0L, 1L, 2L)
    write(log, t, 1L, 3L)
    val before = Files.createTempDirectory("graft-statelog-old").resolve("t")
    copyTree(Paths.get(t), before)
    log.compact(Seq(t -> Seq("v")), 128L << 20, 1)
    // the deletes never ran: the superseded batch directories are back
    copyTree(before, Paths.get(t))
    assert(subdirs(t) == Set("batch_id=0", "batch_id=1", s"gen=${log.last.seq}"))
    assert(values(log, t) == Seq(1L, 2L, 3L), "the superseded directories must not be read")
    assert(log.trigger(1L)(_ => ()).isEmpty, "the compacted entry keeps the committed ids")
    write(log, t, 2L, 4L)
    log.compact(Seq(t -> Seq("v")), 128L << 20, 1)
    assert(values(log, t) == Seq(1L, 2L, 3L, 4L))
    assert(subdirs(t) == Set(s"gen=${log.last.seq}"))
  }

  test("source scan: no append, rename or commit log outside StateLog.scala in graft.streaming") {
    val root = Paths.get("src/main/scala/graft/streaming")
    val banned = """mode\("append"\)|\.rename\(|_commits""".r
    val sources = Files.list(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "StateLog.scala")
      .toSeq
    assert(sources.size > 10, s"source scan found only ${sources.size} files under $root")
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) ""
      else line.indexOf("//") match {
        case -1 => line
        case i  => line.take(i)
      }
    }
    val hits = sources.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(code(line)).nonEmpty =>
          s"${root.relativize(p)}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"write loop state through graft.streaming.StateLog:\n${hits.mkString("\n")}")
  }
}
