package graft.rdf

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Specs for the SPARQL-parity queries: property-path reachability
  * (semi-naive iteration), the star BGP pivot, and the snapshot diff.
  */
class RdfPathSpec extends AnyFunSuite {

  private def edges(rows: (String, String)*) = {
    val s = TestSpark.spark
    import s.implicits._
    rows.toDF("src", "dst")
  }

  private def seeds(xs: String*) = {
    val s = TestSpark.spark
    import s.implicits._
    xs.toDF("src")
  }

  private def reach(e: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.DataFrame, max: Int): Set[(String, String, Int)] =
    RdfOps.reachable(e, s, max).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

  test("reachable: diamond graph reports MIN hops (BFS first-discovery)") {
    // a→b→d and a→c→d→e: d is reachable in 2 (not 3), e in 3.
    val e = edges("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d", "d" -> "e")
    assert(reach(e, seeds("a"), 8) == Set(
      ("a", "b", 1), ("a", "c", 1), ("a", "d", 2), ("a", "e", 3)))
  }

  test("reachable: cycle back to the seed is emitted, then terminates") {
    // 1→2→3→1: SPARQL p+ includes the (1,1) pair via the cycle; the
    // anti-join must still terminate the walk (verified against
    // DuckDB's WITH RECURSIVE, which returns the same three rows).
    val e = edges("1" -> "2", "2" -> "3", "3" -> "1")
    assert(reach(e, seeds("1"), 8) == Set(
      ("1", "2", 1), ("1", "3", 2), ("1", "1", 3)))
  }

  test("reachable: maxHops truncates the walk; multiple seeds are independent") {
    val e = edges("a" -> "b", "b" -> "c", "c" -> "d", "x" -> "b")
    assert(reach(e, seeds("a", "x"), 2) == Set(
      ("a", "b", 1), ("a", "c", 2), ("x", "b", 1), ("x", "c", 2)))
  }

  test("reachable: seed with no outgoing edges yields nothing") {
    val e = edges("a" -> "b")
    assert(reach(e, seeds("z"), 8).isEmpty)
  }

  test("reachable equals a plain-Scala BFS on random cyclic graphs") {
    import scala.util.Random
    (1 to 3).foreach { seed =>
      val rnd = new Random(seed)
      val n = 30
      val es = (0 until 90).map(_ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")).distinct
      val sds = (0 until 5).map(_ => s"n${rnd.nextInt(n)}").distinct
      val maxHops = 4
      // reference: per-seed BFS over an adjacency map, min-hops,
      // cycles included (a revisited pair is never re-expanded)
      val adj = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val expected = sds.flatMap { s =>
        val hops = scala.collection.mutable.Map[String, Int]()
        var frontier = Set(s)
        (1 to maxHops).foreach { d =>
          val next = frontier.flatMap(x => adj.getOrElse(x, Nil))
            .filterNot(hops.contains)
          next.foreach(x => hops(x) = d)
          frontier = next
        }
        hops.map { case (dst, h) => (s, dst, h) }
      }.toSet
      val got = reach(edges(es: _*), seeds(sds: _*), maxHops)
      assert(got == expected, s"seed $seed")
    }
  }

  /** The unbounded `p+` pair closure by per-seed BFS over an adjacency
    * map (cycles included: a revisited node is never re-expanded). */
  private def closureBfs[A](es: Seq[(A, A)], sds: Seq[A]): Set[(A, A)] = {
    val adj = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    sds.distinct.flatMap { s =>
      val seen = scala.collection.mutable.Set[A]()
      var frontier = Set(s)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(x => adj.getOrElse(x, Nil))
          .filterNot(seen.contains)
        seen ++= frontier
      }
      seen.map(s -> _)
    }.toSet
  }

  private def strPairs(df: org.apache.spark.sql.DataFrame) =
    df.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  test("reachablePlusPairs: string keys (dictionary-encoded) equal a " +
      "plain-Scala BFS on chains, cycles, self-loops and random graphs, " +
      "seeded and all-sources; empty seeds or edges yield nothing") {
    def check(es: Seq[(String, String)], sds: Seq[String]): Set[(String, String)] = {
      val got = strPairs(RdfOps.reachablePlusPairs(edges(es: _*), seeds(sds: _*)))
      assert(got === closureBfs(es, sds), s"edges $es seeds $sds")
      got
    }
    // a 9-node chain from every source: ~4 ladder phases, 36 pairs
    val chain = (1 to 8).map(i => (s"n$i", s"n${i + 1}"))
    assert(check(chain, chain.map(_._1)).size === 8 * 9 / 2)
    // a cycle terminates (finite pair space) and closes on itself
    assert(check(Seq(("a", "b"), ("b", "c"), ("c", "a")), Seq("a", "b", "c"))
      .size === 9)
    // a self-loop is its own one-step path; a seed with no out-edge
    // reaches nothing
    assert(check(Seq(("x", "x"), ("x", "y")), Seq("x", "y")) ===
      Set(("x", "x"), ("x", "y")))
    assert(check(chain, Nil).isEmpty)
    assert(check(Nil, Seq("a")).isEmpty)
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { _ =>
      val es = (0 until 30).map(_ =>
        (s"v${rnd.nextInt(12)}", s"v${rnd.nextInt(12)}")).distinct
      check(es, es.map(_._1))
      check(es, (0 until 3).map(_ => s"v${rnd.nextInt(12)}"))
    }
  }

  test("reachablePlusPairs: long keys (not encoded) run to fixpoint on " +
    "random cyclic graphs and equal an UNBOUNDED plain-Scala BFS") {
    import scala.util.Random
    val s = TestSpark.spark
    import s.implicits._
    def check(es: Seq[(Long, Long)], sds: Seq[Long]): Unit = {
      val got = RdfOps.reachablePlusPairs(es.toDF("src", "dst"),
          sds.toDF("src"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === closureBfs(es, sds), s"edges $es seeds $sds")
    }
    (1 to 3).foreach { seed =>
      val rnd = new Random(100 + seed)
      val n = 25
      // dense enough that nearly everything is one big cyclic knot —
      // the shape that loops forever if fixpoint detection is broken
      val es = (0 until 80).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      check(es, (0 until 4).map(_ => rnd.nextInt(n).toLong).distinct)
      check(es, es.map(_._1))
    }
    check(Seq((1L, 1L), (1L, 2L), (3L, 4L)), Seq(1L, 4L))
    check(Seq((1L, 2L)), Nil)
    check(Nil, Seq(1L))
  }

  test("reachablePlusDelta: incremental closure equals from-scratch " +
    "on random graphs with random edge batches (new components, new " +
    "cycles, irrelevant edges, empty delta)") {
    import scala.util.Random
    (1 to 3).foreach { seed =>
      val rnd = new Random(500 + seed)
      val n = 22
      val baseE = (0 until 50).map(_ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")).distinct
      val deltaE = (0 until 12).map(_ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")).distinct
        .filterNot(baseE.contains)
      val sds = (0 until 4).map(_ => s"n${rnd.nextInt(n)}").distinct
      val closure = RdfOps.reachablePlusPairs(edges(baseE: _*), seeds(sds: _*))
      val incr = strPairs(RdfOps.reachablePlusDelta(edges(baseE: _*),
        edges(deltaE: _*), seeds(sds: _*), closure))
      assert(incr == closureBfs(baseE ++ deltaE, sds), s"seed $seed")
      // empty delta: closure unchanged
      val noop = strPairs(RdfOps.reachablePlusDelta(edges(baseE: _*),
        edges(baseE.take(0): _*), seeds(sds: _*), closure))
      assert(noop == strPairs(closure), s"seed $seed noop")
    }
  }

  test("a memoized pair closure is checkpointed once: building " +
    "rdf_path_alt_plus persists exactly the artifact it returns") {
    // a fresh session starts with an empty memo; the triple fixture
    // (its own memoized checkpoint) is built before counting
    val s = TestSpark.spark.newSession()
    val d = "/root/testdata/sf0.001"
    TripleFixture.triples(s, d)
    val before = s.sparkContext.getPersistentRDDs.keySet
    val out = RdfQueries.queries("rdf_path_alt_plus")(s, d)
    val added = s.sparkContext.getPersistentRDDs.keySet -- before
    val leaves = out.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }
    assert(added.size === 1 && added === leaves.toSet)
    assert(out.count() > 0)
  }

  test("rdf_reachable_star: doubling fixture has real cycles and the " +
    "closure contains them plus every seed's self row") {
    val s = TestSpark.spark
    val out = RdfQueries.queries("rdf_reachable_star")(s,
      "/root/testdata/sf0.001").localCheckpoint()
    val item = "http://ex.org/item/"
    // every seed (k % 6 = 0 typed items) reaches itself at hop 0
    val seedsN = TripleFixture.triples(s, "/root/testdata/sf0.001")
      .filter(col("predicate") === Vocab.RdfType &&
        col("obj_value") === Vocab.CeoRijksmonument)
      .select(col("subject")).distinct().count()
    assert(out.filter(col("src") === col("dst")).count() == seedsN)
    // the 6→24→96→6 cycle: 96 % 16 = 0 back-edge makes 6 reach 96
    // and (via the back-edge) itself — present as the hop-0 row, and
    // 96 is in 6's closure
    assert(out.filter(col("src") === s"${item}6" &&
      col("dst") === s"${item}96").count() == 1)
  }

  test("composed paths: (p1|p2)+ walks the union lattice, (^p)+ is " +
    "the projection-swapped walk with inverse cycles, p1/p2+ prunes " +
    "the closure to step-1 mids") {
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    val item = "http://ex.org/item/"
    def pairs(name: String): Set[(String, String)] =
      RdfQueries.queries(name)(s, d).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    // (tri|pent)+ from seed 6: the 3-5-smooth lattice {6·3^a·5^b} —
    // members NEITHER single branch reaches (90 = 6·3·5 needs both),
    // and nothing off-lattice (24 = 6·4 must be absent even though
    // the quad fixture would reach it)
    val alt = pairs("rdf_path_alt_plus")
    assert(Seq("18", "30", "90", "150").forall(k =>
      alt.contains((s"${item}6", s"$item$k"))))
    assert(!alt.contains((s"${item}6", s"${item}24")))
    // (^quad)+ from seed 24: the ÷4 inverse edge 24→6; from seed 6:
    // the ×16 back-edge inverse 6→96, then 96→24→6 closes a REAL
    // inverse cycle, so (6,6) is reached in 3 hops
    val inv = pairs("rdf_path_inv_plus")
    assert(inv.contains((s"${item}24", s"${item}6")))
    assert(inv.contains((s"${item}6", s"${item}96")))
    assert(inv.contains((s"${item}6", s"${item}6")))
    // succ/quad+ from seed 6: mid is 7, whose quad orbit is
    // {28, 112, 7} (112 % 16 = 0 back-edge returns to the mid) —
    // the mid itself IS reachable (p2+ in ≥1 step via the cycle),
    // the seed is not
    val seq = pairs("rdf_path_seq_plus")
    assert(seq.contains((s"${item}6", s"${item}28")))
    assert(seq.contains((s"${item}6", s"${item}112")))
    assert(seq.contains((s"${item}6", s"${item}7")))
    assert(!seq.contains((s"${item}6", s"${item}6")))
  }

  test("pivoted predicates are functional on the fixture (the guard " +
    "the min/max pivot evaluation is exact under)") {
    // The pivot BGPs (bgpStar/bgpOptional/bgpMinus/construct)
    // collapse each predicate with a min/max conditional aggregate —
    // exact ONLY while every pivoted (subject, predicate) has ≤ 1
    // value. This test is the runtime guard for that assumption: it
    // fails the moment the fixture grows a second binding, at which
    // point those queries must switch to the join form.
    val s = TestSpark.spark
    import Vocab._
    val pivoted = Seq(DctermsTitle, CeoRijksmonumentnummer,
      "http://ex.org/def#size", OmekaResourceTemplate)
    val viol = TripleFixture.triples(s, "/root/testdata/sf0.001")
      .filter(col("predicate").isin(pivoted: _*))
      .groupBy(col("subject"), col("predicate"))
      .agg(countDistinct(col("obj_value")).as("nv"))
      .filter(col("nv") > 1)
    assert(viol.isEmpty,
      s"multi-valued pivoted predicate(s): ${viol.head(5).mkString(", ")}")
  }

  test("bgp star: pivot evaluation equals the naive n-way self-join") {
    // The oracle SQL runs the naive join in DuckDB; this spec runs
    // the same naive join in SPARK over the real fixture, so the
    // pivot-vs-join equivalence is also checked engine-internally.
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    val t = TripleFixture.triples(s, d)
    import Vocab._
    val ty = t.filter(col("predicate") === RdfType &&
      col("obj_value") === CeoRijksmonument).select(col("subject"))
    val ti = t.filter(col("predicate") === DctermsTitle)
      .select(col("subject"), col("obj_value").as("title"))
    val m = t.filter(col("predicate") === CeoRijksmonumentnummer)
      .select(col("subject"), col("obj_value").as("monument_number"))
    val z = t.filter(col("predicate") === "http://ex.org/def#size" &&
        col("obj_value").cast("int") >= 25)
      .select(col("subject"), col("obj_value").cast("int").as("part_size"))
    val naive = ty.join(ti, "subject").join(m, "subject").join(z, "subject")
      .select(col("subject").as("item"), col("title"),
        col("monument_number"), col("part_size"))
    val pivot = RdfQueries.queries("rdf_bgp_star")(s, d)
    assert(pivot.count() > 0)
    assert(pivot.except(naive).isEmpty && naive.except(pivot).isEmpty)
  }

  test("bgp optional: emits both bound and unbound template rows") {
    val s = TestSpark.spark
    val out = RdfQueries.queries("rdf_bgp_optional")(s, "/root/testdata/sf0.001")
      .localCheckpoint()
    // OPTIONAL must keep items without the pattern (null template)
    // AND bind it where present — both sides non-empty on the fixture
    assert(out.filter(col("template").isNull).count() > 0)
    assert(out.filter(col("template").isNotNull).count() > 0)
  }

  test("snapshot diff: added rows are v2-rewrites, tags partition the diff") {
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    val diff = RdfQueries.queries("rdf_snapshot_diff")(s, d)
      .localCheckpoint()
    val added = diff.filter(col("change") === "added")
    val removed = diff.filter(col("change") === "removed")
    assert(added.count() > 0 && removed.count() > added.count())
    // every added row is a rewritten title
    assert(added.filter(!col("obj_value").endsWith(" v2")).isEmpty)
    // each added row's pre-image is among the removed rows
    val preimage = added.select(col("subject"), col("predicate"),
      expr("substring(obj_value, 1, length(obj_value) - 3)").as("obj_value"))
    assert(preimage.join(removed.select("subject", "predicate", "obj_value"),
      Seq("subject", "predicate", "obj_value"), "left_anti").isEmpty)
  }
}
