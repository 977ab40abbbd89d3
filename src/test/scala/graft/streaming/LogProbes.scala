package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Probes for the streaming loops' state specs: the Spark jobs a block
  * launches, and a trigger that crashes between its writes and its commit.
  */
object LogProbes {

  /** Jobs `body` launches, counted by the local property they carry. The
    * listener bus is FIFO, so once a marker job run after `body` has been
    * seen, so has every job `body` launched.
    */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = "graft.jobProbe"
    val label = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
    }
    def tagged[U](l: String)(f: => U): U = {
      sc.setLocalProperty(tag, l)
      try f finally sc.setLocalProperty(tag, null)
    }
    sc.addSparkListener(listener)
    try {
      val out = tagged(label)(body)
      tagged(s"$label/end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(s"$label/end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$label/end"), "the listener never saw the marker job")
      (out, seen.asScala.count(_ == label))
    } finally sc.removeSparkListener(listener)
  }

  /** Copy the tree at `src` to `dst`, replacing files already there. */
  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Run `body`, one trigger on the state under `dir`, then put the commit
    * log back as it was: the trigger's directories are written and its
    * commit is lost, the state a crash between the two leaves.
    */
  def commitLost[T](dir: String)(body: => T): T = {
    val log = Paths.get(s"$dir/_commits")
    val saved = Files.createTempDirectory("graft-commits").resolve("log")
    if (Files.exists(log)) copyTree(log, saved)
    val out = body
    deleteTree(log)
    if (Files.exists(saved)) copyTree(saved, log)
    out
  }
}
