package graft.relational

import graft.SparkSuite

import org.apache.spark.sql.Row

/** Pins the edge semantics of the two non-equi joins on crafted data —
  * the sf-corpus oracle compare exercises volume, not boundaries:
  *
  *  - q24 as-of: tie at equal timestamps (purchase AT the click's ts is
  *    eligible), tie among equal-ts purchases (max event_id wins), and
  *    the no-preceding-purchase sentinel.
  *  - q25 range: half-open window [ts-30min, ts), both boundary
  *    nanoseconds, and a match that crosses a bucket edge (the probe of
  *    bucket-1 — delete it and the cross-bucket case fails).
  */
class RelationalJoinSpec extends SparkSuite {

  private val MIN30 = 1800000000000L // ns
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_join_spec").toString
    import spark.implicits._
    // (event_id, ts_nanos, user_id, event_type, value)
    // base is BUCKET-ALIGNED (a multiple of MIN30): the range-join
    // fixture below places the error exactly at a bucket edge so that a
    // click at ts-1 lands in the PREVIOUS bucket — reachable only
    // through the bucket-1 probe (delete the probe of bucket-1 in
    // q25_range_join and that click is lost)
    val base = 1700000000000000000L / MIN30 * MIN30 + MIN30
    Seq(
      // user 1: purchase history around one click
      (1L, base + 100L, 1L, "purchase", 10.0, "{}"),
      (2L, base + 200L, 1L, "purchase", 20.0, "{}"), // same ts as the click
      (3L, base + 200L, 1L, "click", 0.5, "{}"),     // ties with event 2
      (4L, base + 150L, 1L, "purchase", 15.0, "{}"),
      (9L, base + 150L, 1L, "purchase", 16.0, "{}"), // equal-ts pair: max id wins
      // user 2: click with NO preceding purchase (purchase is later)
      (5L, base + 300L, 2L, "click", 0.5, "{}"),
      (6L, base + 400L, 2L, "purchase", 30.0, "{}"),
      // range-join fixture: error AT a bucket edge (base is aligned, so
      // base+2W is too), clicks at the exact window boundaries:
      //  - 10 at ts-W: included (closed lower bound), bucket-1
      //  - 11 at ts-W-1: excluded (below the window) — and in bucket-2,
      //    which is not probed at all
      //  - 12 at ts-1: included; sits in bucket-1 (the error is at an
      //    edge), so ONLY the bucket-1 probe can reach it
      //  - 13 at ts: excluded (open upper bound), error's own bucket
      (7L, base + 2 * MIN30, 3L, "error", 0.0, "{}"),
      (10L, base + 2 * MIN30 - MIN30, 4L, "click", 1.0, "{}"),     // = ts-W: in
      (11L, base + 2 * MIN30 - MIN30 - 1, 4L, "click", 2.0, "{}"), // out
      (12L, base + 2 * MIN30 - 1, 4L, "click", 4.0, "{}"),         // in (bucket-1)
      (13L, base + 2 * MIN30, 4L, "click", 8.0, "{}")              // = ts: out
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  private def run(name: String): Seq[Row] =
    RelationalQueries.all.find(_.name == name).get.fn(spark, dir).collect().toSeq

  test("q24 as-of: equal-ts purchase is eligible and equal-ts pair resolves to max id") {
    val rows = run("q24_asof_join").map(r =>
      (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4)))
    // click 3 at ts=base+200: eligible purchases are 1 (ts+100), 4 & 9
    // (ts+150), 2 (ts+200, SAME instant — eligible). Latest ts wins: 2.
    assert(rows.contains((3L, 2L, 20.0, 0L)))
    // click 5 (user 2): no preceding purchase → the -1 sentinel triple
    assert(rows.contains((5L, -1L, -1.0, -1L)))
  }

  test("q24 as-of: equal-ts tie among purchases resolves to max event_id") {
    // Re-run with the click moved between +150 and +200 so 4/9 tie wins:
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_join_spec2").toString
    val base = 1700000000000000000L
    Seq(
      (4L, base + 150L, 1L, "purchase", 15.0, "{}"),
      (9L, base + 150L, 1L, "purchase", 16.0, "{}"),
      (3L, base + 160L, 1L, "click", 0.5, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val rows = RelationalQueries.all.find(_.name == "q24_asof_join").get
      .fn(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(rows === Seq((3L, 9L, 16.0)))
  }

  test("q25 range: half-open [ts-W, ts) boundaries and the cross-bucket probe") {
    val rows = run("q25_range_join").map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // error 7: clicks 10 (= ts-W, in) and 12 (= ts-1, in, lands in the
    // PREVIOUS bucket); 11 (ts-W-1) and 13 (= ts) excluded
    assert(rows === Seq((7L, 2L, 5.0)))
  }

  test("randomized equivalence vs in-memory references (as-of, range, quantiles)") {
    // The crafted fixtures pin specific edges; this pins the GENERAL
    // semantics: random event sets with deliberately tie-heavy
    // timestamps (drawn from a small instant pool, so equal-ts
    // eligibility and tie-breaks fire constantly), checked row-for-row
    // against naive per-row references.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val W = MIN30
    val base = 1700000000000000000L / W * W + W
    val types = Vector("click", "purchase", "error", "view")
    for (trial <- 0 until 3) {
      val instants = Vector.fill(40)(base + math.abs(rnd.nextLong()) % (4 * W))
      case class E(id: Long, ts: Long, user: Long, typ: String, value: Double)
      val events = (0 until 250).map { i =>
        E(i.toLong, instants(rnd.nextInt(instants.length)), rnd.nextInt(5).toLong,
          types(rnd.nextInt(types.length)), rnd.nextInt(10000) / 100.0)
      }
      val d = java.nio.file.Files.createTempDirectory(s"graft_join_rand$trial").toString
      events.map(e => (e.id, e.ts, e.user, e.typ, e.value, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(2).write.mode("overwrite").parquet(s"$d/events.parquet")
      def q(name: String) = RelationalQueries.all.find(_.name == name).get.fn(spark, d)

      // as-of: latest purchase with (ts, id) <= / max ordering
      val expectAsof = events.filter(_.typ == "click").sortBy(_.id).map { l =>
        val elig = events.filter(p =>
          p.typ == "purchase" && p.user == l.user && p.ts <= l.ts)
        if (elig.isEmpty) (l.id, l.user, -1L, -1.0, -1L)
        else {
          val p = elig.maxBy(p => (p.ts, p.id))
          (l.id, l.user, p.id, p.value, (l.ts - p.ts) / 1000000000L)
        }
      }
      val gotAsof = q("q24_asof_join")
        .as[(Long, Long, Long, Double, Long)].collect().toSeq
      assert(gotAsof == expectAsof, s"asof trial $trial")

      // range: clicks in [ts-W, ts), any user; decimal-exact value sum
      val expectRange = events.filter(_.typ == "error").sortBy(_.id).map { e =>
        val in = events.filter(c =>
          c.typ == "click" && c.ts >= e.ts - W && c.ts < e.ts)
        val v = in.map(c => BigDecimal(c.value).setScale(2)).sum
        (e.id, in.size.toLong, v.toDouble)
      }
      val gotRange = q("q25_range_join")
        .as[(Long, Long, Double)].collect().toSeq
      assert(gotRange == expectRange, s"range trial $trial")

      // quantiles: value at ascending rank r = min{r : 1000r >= p*n}
      val expectQ = events.groupBy(_.typ).toSeq.sortBy(_._1).map { case (t, es) =>
        val vs = es.map(_.value).sorted
        def at(p: Int) = vs((p * vs.size + 999) / 1000 - 1)
        (t, vs.size.toLong, at(500), at(950))
      }
      val gotQ = q("q26_quantiles")
        .as[(String, Long, Double, Double)].collect().toSeq
      assert(gotQ == expectQ, s"quantiles trial $trial")

      // running distinct type count: RANGE frame ⇒ peers included, so
      // the reference is simply "distinct types of same-user events at
      // ts' <= ts" — the tie-heavy instant pool makes peer groups real
      val expectDw = events.sortBy(_.id).map { e =>
        val n = events.filter(x => x.user == e.user && x.ts <= e.ts)
          .map(_.typ).distinct.size.toLong
        (e.id, e.user, n)
      }
      val gotDw = q("q29_distinct_window")
        .as[(Long, Long, Long)].collect().toSeq
      assert(gotDw == expectDw, s"distinct-window trial $trial")
    }
  }

  test("q30 bucketed continuous quantiles: randomized equivalence vs full-sort reference") {
    // The bucketed two-pass plan (histogram → bracketing buckets →
    // within-bucket ranking) must select EXACTLY the full sort's order
    // statistics. Random trials are deliberately adversarial for the
    // r13 sortable-bits bucketing (top bits of the IEEE total-order
    // pattern): values sit ON binade boundaries (exact powers of two,
    // incl. repeated ties — the first value of a bucket), NEGATIVE
    // values exercise the sign-flip branch of the transform, and dense
    // clusters inside one mantissa-prefix bucket force the boundary
    // bucket's within-bucket ranking to do real work; group sizes vary
    // so frac=0 and lo+1 > n both occur.
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    for (trial <- 0 until 3) {
      val flags = Vector("A", "N", "R")
      val rows = (0 until 300 + rnd.nextInt(100)).map { _ =>
        val v = rnd.nextInt(4) match {
          case 0 => math.pow(2, rnd.nextInt(12)) // exact binade boundary
          case 1 => -(rnd.nextInt(2000) + rnd.nextInt(100) / 100.0) // negative
          case 2 => 1024.0 + rnd.nextInt(4) / 2.0 // one-bucket dense cluster
          case _ => rnd.nextInt(3000) + rnd.nextInt(100) / 100.0
        }
        (flags(rnd.nextInt(3)), v)
      } ++ Seq(("A", 0.0), // a group guaranteed non-empty with a zero value
        ("N", -0.0), ("N", 0.0)) // Spark-equal, distinct bits: adjacent buckets
      val d = java.nio.file.Files.createTempDirectory(s"graft_q30_rand$trial").toString
      rows.toDF("l_returnflag", "l_extendedprice")
        .coalesce(2).write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      // naive reference: full sort per group, identical integer lo/frac
      // derivation and identical lerp composition (bit-for-bit)
      val expect = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, es) =>
        val vs = es.map(_._2).sorted
        val n = vs.size.toLong
        Seq(250L, 500L, 750L).map { p =>
          val lo = (p * (n - 1)) / 1000 + 1
          val frac = (p * (n - 1)) % 1000
          val vLo = vs((lo - 1).toInt)
          val vHi = if (lo < n) vs(lo.toInt) else vLo
          val qc = BigDecimal(vLo + (vHi - vLo) * frac / 1000.0)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          (g, p, qc)
        }
      }
      val got = RelationalQueries.all.find(_.name == "q30_quantile_cont").get
        .fn(spark, d).as[(String, Long, Double)].collect().toSeq
      assert(got == expect, s"q30 trial $trial")
    }
  }
}
