package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{AnnIndex, LlmQueries}
import graft.queries.RelationalQueries
import graft.rdf.RdfQueries

/** The loops on [[Fixpoint.iterate]] run ONE SQL execution per round
  * (a listener groups job starts by their "<loop> round <r>"
  * description), Lloyd's observed stop is the two-way EXCEPT test,
  * and loops over empty inputs end. */
class FixpointSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  import s.implicits._

  /** Runs `body`; returns, per round of `loop`, the distinct
    * `spark.sql.execution.id`s among that round's job starts. */
  private def roundExecutions(loop: String)(body: => Unit): Map[Int, Set[String]] = {
    val sc = s.sparkContext
    val Label = s"$loop round (\\d+)".r
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty("spark.job.description")) match {
            case Some(Label(r)) =>
              seen.add(r.toInt -> String.valueOf(p.getProperty("spark.sql.execution.id")))
            case _ => ()
          }
        }
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
  }

  private def assertOnePerRound(ex: Map[Int, Set[String]], rounds: Int): Unit = {
    assert(rounds >= 2, s"fixture ran $rounds rounds")
    assert(ex.keySet == (1 to rounds).toSet, ex)
    assert(ex.values.forall(_.size == 1), ex)
  }

  /** One synthetic order per edge, in the co-purchase input shape. */
  private def li(edges: Seq[(Long, Long)]): DataFrame =
    edges.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((i.toLong, u), (i.toLong, v))
    }.toDF("ok", "pk")

  private val path = (1L to 12L).map(i => (i, i + 1))

  test("each k-core round is one SQL execution, and the caller's " +
      "job description is restored") {
    val sc = s.sparkContext
    sc.setJobDescription("outer")
    try {
      // a 13-node path at k = 2 peels one node from each end per round
      val ex = roundExecutions("kcore") {
        assert(RelationalQueries.kcoreOf(li(path), 2, 16).collect().isEmpty)
      }
      assertOnePerRound(ex, ex.size)
      assert(ex.size >= 6)
      assert(sc.getLocalProperty("spark.job.description") == "outer")
    } finally sc.setJobDescription(null)
  }

  test("each connected-components round is one SQL execution") {
    val pairs = (1L to 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = roundExecutions("cc") {
      val got = LlmQueries.ccFromPairs(pairs).as[(Long, Long)].collect()
      assert(got.length == 41 && got.forall(_._2 == 1L))
    }
    assertOnePerRound(ex, ex.size)
  }

  test("each label-propagation round is one SQL execution") {
    val ex = roundExecutions("lpa") {
      RelationalQueries.communitiesOf(li(path ++ Seq((1L, 3L), (5L, 7L))), 4)
        .collect()
    }
    assertOnePerRound(ex, 4)
  }

  test("each PageRank round is one SQL execution") {
    val item = "http://ex.org/item/"
    val edges = (1 to 40).flatMap(k =>
      Seq((k, k * 4), (k, k + 1)) ++ (if (k % 16 == 0) Seq((k, k / 16)) else Nil))
      .map { case (a, b) => (s"$item$a", s"$item$b") }.toDF("src", "dst")
    var rounds = 0
    val ex = roundExecutions("pagerank") {
      val (stored, it) = RdfQueries.pagerankLoop(s, edges, None, 12)
      assert(stored.count() == edges.select("dst").union(edges.select("src"))
        .distinct().count())
      rounds = it
    }
    assertOnePerRound(ex, rounds)
  }

  /** The capped Lloyd loop with the parent's semantics, on the driver:
    * max-inner-product assignment (ties to the smallest cid), integer
    * means, stop when the (cid, cv) sets are equal. */
  private def lloydReference(vecs: Seq[(Long, Seq[Long])], k: Int,
      iters: Int): (Set[(Int, Seq[Long])], Int) = {
    var cent = vecs.filter(_._1 < k).map { case (id, v) => (id.toInt, v) }.toSet
    var rounds = 0
    var converged = false
    while (rounds < iters && !converged) {
      val order = cent.toSeq.sortBy(_._1)
      val next = vecs.map { case (_, v) =>
        order.maxBy { case (_, c) => c.zip(v).map { case (a, b) => a * b }.sum }._1 -> v
      }.groupBy(_._1).map { case (cid, vs) =>
        cid -> vs.map(_._2).transpose.map(_.sum / vs.size)
      }.toSet
      converged = next == cent
      cent = next
      rounds += 1
    }
    (cent, rounds)
  }

  test("Lloyd: each round is one SQL execution, and a cluster that " +
      "empties ends the loop where the EXCEPT reference does") {
    // seeds 0..2; round 1 assigns nothing to cid 0, which vanishes
    val vecs = Seq(0L -> Seq(1L, 0L), 1L -> Seq(10L, 0L), 2L -> Seq(0L, 5L),
      3L -> Seq(7L, 1L), 4L -> Seq(3L, 2L), 5L -> Seq(0L, 9L),
      6L -> Seq(2L, 8L), 7L -> Seq(9L, 9L))
    val (want, wantRounds) = lloydReference(vecs, 3, 10)
    assert(!want.exists(_._1 == 0) && wantRounds < 10)
    val vectors = vecs.toDF("vec_id", "qv")
    var got = Set.empty[(Int, Seq[Long])]
    val ex = roundExecutions("lloyd") {
      got = AnnIndex.lloyd(s, vectors, 3, 10).as[(Int, Seq[Long], Long)]
        .collect().map(r => (r._1, r._2)).toSet
    }
    assert(got == want)
    assertOnePerRound(ex, wantRounds)
  }

  test("Lloyd's observed stop equals the two-way EXCEPT test, " +
      "vanished cids included") {
    val rnd = new scala.util.Random(12)
    def table(rows: Seq[(Int, Seq[Long])]): DataFrame =
      rows.toDF("cid", "cv").withColumn("n_vecs", lit(1L))
    (1 to 24).foreach { i =>
      val k = 1 + rnd.nextInt(5)
      val prev = (0 until k).map(c => c -> Seq.fill(3)(rnd.nextInt(3).toLong))
      val next = i % 4 match {
        case 0 => prev
        case 1 => prev.filter(_._1 != rnd.nextInt(k)) // a cluster empties
        case 2 => prev.map { case (c, v) =>
          if (rnd.nextBoolean()) c -> v.updated(0, v.head + 1) else c -> v }
        case _ => prev.filter(_._1 != rnd.nextInt(k))
          .map { case (c, v) => c -> v.reverse }
      }
      val a = table(next).select("cid", "cv")
      val b = table(prev).select("cid", "cv")
      val reference = a.except(b).isEmpty && b.except(a).isEmpty
      val (p, pm) = Fixpoint.observed(table(prev).withColumn("moved", lit(true)),
        AnnIndex.moveMetrics: _*)
      val (n, nm) = Fixpoint.observed(AnnIndex.withMoves(table(next), p),
        AnnIndex.moveMetrics: _*)
      assert(AnnIndex.unchanged(pm, nm) == reference, s"case $i: $prev -> $next")
      Seq(p, n).foreach(Fixpoint.free)
    }
  }

  test("a plan proven empty reads as zero observed rows") {
    val (df, m) = Fixpoint.observed(
      Seq(1L, 2L).toDF("x").filter(lit(false)), count(lit(1)).as("n"))
    assert(Fixpoint.long(m, "n") == 0L && df.isEmpty)
  }

  test("CC over zero pairs and k-core with k above every degree " +
      "terminate with empty results") {
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(LlmQueries.ccFromPairs(none).collect().isEmpty)
    assert(RelationalQueries.kcoreOf(li(path), 3, 16).collect().isEmpty)
  }
}
