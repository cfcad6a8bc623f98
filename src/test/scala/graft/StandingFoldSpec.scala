package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

import graft.CurationStreamSpec.Vec
import graft.DedupClusterStreamSpec.Edge
import graft.NearDupCurationStreamSpec.Doc
import graft.Scd2StreamSpec.Change
import graft.ops.Lineage
import graft.stream.{CurationStream, DedupClusterStream, NearDupCurationStream, Scd2Stream}

/** The four stream maintainers under at-least-once delivery:
  * foreachBatch replays a failed batch under the same id, so a replayed
  * epoch must leave every standing frame exactly as one application
  * left it. Frames are compared as row MULTISETS — the stream ≡ batch
  * specs compare sets and maps, which collapse the duplicates a
  * double-applied append leaves behind.
  *
  * The folds are called directly, without a streaming query. Batches
  * are RDD-backed so that, as on a real source, probing one for
  * emptiness costs a Spark job (a local relation answers take(1) on the
  * driver), which keeps the jobs-per-batch bounds honest.
  */
object StandingFoldSpec {
  /** One maintainer: its foreachBatch body and every frame it serves. */
  trait Folded {
    def apply(batch: DataFrame, epoch: Long): Unit
    def frames: Seq[Option[DataFrame]]
    def release(): Unit
  }

  /** `jobBound(i)`: the Spark jobs batch i ran before the folds shared
    * one shell, measured on this 3-batch batching with AQE off; the
    * shell may not add any.
    */
  final case class Case(name: String, make: () => Folded,
      batches: Seq[DataFrame], jobBound: Seq[Int])
}

class StandingFoldSpec extends SparkSpec {
  import StandingFoldSpec.{Case, Folded}
  import spark.implicits._

  private def rddBacked[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
      rows: Seq[T]): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(rows, 2)).toDF()

  private val cents = Seq(Array(0.0, 0.0), Array(100.0, 100.0), Array(-100.0, 100.0))

  private def curation() = new CurationStream.Maintainer(cents)
  private def nearDup() = new NearDupCurationStream.Maintainer(0.4, 16, 3)

  private def fused(m: => CurationStream.Fused): () => Folded = () => new Folded {
    private val f = m
    def apply(batch: DataFrame, epoch: Long): Unit = f.ingest(batch, epoch)
    def frames: Seq[Option[DataFrame]] = Seq(f.store, f.clusters)
    def release(): Unit = f.release()
  }

  private lazy val scd2 = {
    val rnd = new scala.util.Random(13)
    val log = (1 to 30).map(i =>
      Change(rnd.nextInt(5) + 1L, s"v${rnd.nextInt(3)}", (i / 3).toLong, i.toLong))
    Case("scd2", () => new Folded {
      private val m = new Scd2Stream.Maintainer("k", "v", "ts", "seq")
      def apply(batch: DataFrame, epoch: Long): Unit = m.merge(batch, epoch)
      def frames: Seq[Option[DataFrame]] = Seq(m.changePoints, m.history())
      def release(): Unit = m.release()
    }, log.grouped(10).map(rddBacked(_)).toSeq, Seq(2, 2, 2))
  }

  private lazy val dedupClusters = Case("dedup_clusters", () => new Folded {
    private val m = new DedupClusterStream.Maintainer("src", "dst")
    def apply(batch: DataFrame, epoch: Long): Unit = m.merge(batch, epoch)
    def frames: Seq[Option[DataFrame]] = Seq(m.assignments)
    def release(): Unit = m.release()
  }, Seq(
    Seq(Edge(1, 2), Edge(2, 3), Edge(10, 11)),
    Seq(Edge(3, 10), Edge(20, 21)),
    Seq(Edge(21, 1), Edge(30, 31))).map(rddBacked(_)), Seq(7, 8, 7))

  private lazy val curationCase = Case("curation", fused(curation()), Seq(
    Seq(Vec(1L, Array(5f, 6f)), Vec(2L, Array(5f, 6f)), Vec(4L, Array(7f, 3f))),
    Seq(Vec(3L, Array(5f, 6f)), Vec(10L, Array(95f, 99f)), Vec(11L, Array(95f, 99f))),
    Seq(Vec(30L, Array(5f, 6f)), Vec(20L, Array(-90f, 95f)))).map(rddBacked(_)),
    Seq(9, 9, 9))

  private lazy val nearDupCase = {
    val fox = "the quick brown fox jumps over the lazy dog by the"
    val llm = "large language models train on carefully deduplicated web corpora"
    Case("near_dup_curation", fused(nearDup()), Seq(
      Seq(Doc(1L, s"$fox misty river"), Doc(2L, s"$fox misty river"),
        Doc(4L, "completely different content about spark streaming and state stores")),
      Seq(Doc(3L, s"$fox old stone bridge"), Doc(10L, llm), Doc(11L, llm)),
      Seq(Doc(30L, "the quick brown fox jumps over the sleepy dog by the old stone bridge"),
        Doc(5L, "yet another unrelated document mentioning parquet files and shuffles")))
      .map(rddBacked(_)), Seq(9, 9, 10))
  }

  private def cases = Seq(scd2, dedupClusters, curationCase, nearDupCase)

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  private def snapshot(f: Folded): Seq[Option[Map[Row, Int]]] = f.frames.map(_.map(multiset))

  test("replaying an applied epoch leaves every standing frame's row multiset unchanged") {
    for (c <- cases) {
      val once = c.make()
      val replayed = c.make()
      try {
        once(c.batches(0), 0L)
        replayed(c.batches(0), 0L)
        replayed(c.batches(0), 0L)
        assert(snapshot(replayed) == snapshot(once), s"${c.name}: epoch 0 replayed")
        once(c.batches(1), 1L)
        replayed(c.batches(1), 1L)
        replayed(c.batches(1), 1L)
        replayed(c.batches(0), 0L)
        val want = snapshot(once)
        assert(want.forall(_.nonEmpty), c.name)
        assert(snapshot(replayed) == want, s"${c.name}: epochs 1 and 0 replayed")
      } finally { once.release(); replayed.release() }
    }
  }

  test("a fused-curation failure between the cluster fold and the store append " +
      "replays to the uninterrupted run") {
    for ((c, make) <- Seq[(Case, () => CurationStream.Fused)](
        curationCase -> (() => curation()), nearDupCase -> (() => nearDup()))) {
      val reference = c.make()
      val base = make()
      var armed = false
      var edgeBlocks = Option.empty[org.apache.spark.rdd.RDD[_]]
      // on the armed call: materialize the edges while the arrivals are
      // readable, then drop the arrivals' blocks, so the cluster fold
      // completes and the store append that reads the arrivals throws
      val faulty = new CurationStream.Fused(base.scan, (arrivals, store) => {
        val edges = base.edges(arrivals, store)
        if (!armed) edges
        else {
          armed = false
          val (cut, rdd) = Lineage.checkpointed(edges)
          edgeBlocks = Some(rdd)
          arrivals.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
            .getOrElse(fail("arrivals are not a checkpoint")).unpersist(blocking = true)
          cut
        }
      })
      try {
        c.batches.zipWithIndex.foreach { case (b, i) => reference(b, i.toLong) }
        faulty.ingest(c.batches(0), 0L)
        val store0 = faulty.store.map(multiset)
        val clusters0 = faulty.clusters.map(multiset)
        armed = true
        intercept[Exception](faulty.ingest(c.batches(1), 1L))
        assert(faulty.store.map(multiset) == store0, s"${c.name}: store appended")
        assert(faulty.clusters.map(multiset) != clusters0, s"${c.name}: cluster fold not run")
        faulty.ingest(c.batches(1), 1L)
        faulty.ingest(c.batches(2), 2L)
        assert(Seq(faulty.store, faulty.clusters).map(_.map(multiset)) == snapshot(reference),
          c.name)
      } finally {
        reference.release(); faulty.release(); base.release()
        edgeBlocks.foreach(_.unpersist(blocking = false))
      }
    }
  }

  test("the shared shell adds no Spark job to any maintainer's batch") {
    val tag = "graft.spec.fold_epoch"
    val sc = spark.sparkContext
    // counted with AQE off, where a plan's shuffle stages run inside its
    // action's job: with AQE on, each re-planned stage is its own job and
    // their number varies run to run with which stage finishes first
    // (the curation folds ranged over 3 jobs per batch at one commit)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (c <- cases) {
      val jobs = new ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(jobs.add)
      }
      sc.addSparkListener(listener)
      val m = c.make()
      try {
        c.batches.zipWithIndex.foreach { case (b, i) =>
          sc.setLocalProperty(tag, i.toString)
          try m(b, i.toLong) finally sc.setLocalProperty(tag, null)
        }
        // the listener bus delivers in order: once this job is seen, so
        // is every job the folds ran
        sc.setLocalProperty(tag, "flush")
        try spark.range(1).count() finally sc.setLocalProperty(tag, null)
        val deadline = System.nanoTime() + 30e9.toLong
        while (!jobs.contains("flush") && System.nanoTime() < deadline) Thread.sleep(20)
        assert(jobs.contains("flush"))
        val perBatch = c.batches.indices.map(i => jobs.asScala.count(_ == i.toString))
        info(s"${c.name}: jobs per batch ${perBatch.mkString(", ")} " +
          s"(bound ${c.jobBound.mkString(", ")})")
        assert(perBatch.zip(c.jobBound).forall { case (n, bound) => n <= bound },
          s"${c.name}: $perBatch jobs per batch, bound ${c.jobBound}")
      } finally { sc.removeSparkListener(listener); m.release() }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("source scan: only StandingFold keeps standing state, handles or locks") {
    val dir = Paths.get("src/main/scala/graft/stream")
    def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val listing = Files.list(dir)
    val others = try listing.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "StandingFold.scala")
      .toList finally listing.close()
    val reRoot = """createDataFrame\(\s*\w+\.rdd\s*,\s*\w+\.schema\s*\)""".r
    val shellCopies = others.filter { p =>
      val src = read(p)
      src.contains("handle.foreach(_.unpersist") || reRoot.findFirstIn(src).isDefined
    }
    assert(shellCopies.isEmpty, s"fold shell copied outside StandingFold: $shellCopies")
    val ownState = """@volatile|synchronized|var\s+(standing|handle)\b""".r
    val maintainers = Seq("Scd2Stream", "DedupClusterStream", "CurationStream",
      "NearDupCurationStream").filter(n => ownState.findFirstIn(read(dir.resolve(s"$n.scala"))).isDefined)
    assert(maintainers.isEmpty, s"maintainers with their own state or lock: $maintainers")
  }
}
