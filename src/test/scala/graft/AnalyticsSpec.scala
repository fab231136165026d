package graft

import org.apache.spark.sql.functions._

/** Round-4 operator suite: equality properties for the temporal
  * analytics block (the bucketed/linear plan must equal the naive
  * formulation it replaces) plus plan-regression guards.
  */
class AnalyticsSpec extends SparkSpecBase {

  test("join_interval_overlap: bucketed equi-join equals the naive pairwise join") {
    val W = 2592000L
    val iv = spark.read.parquet(s"$sf/orders.parquet").select(
      col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
      unix_timestamp(col("o_orderdate")).as("st"),
      (unix_timestamp(col("o_orderdate")) + W).as("en"))
    val b = iv.select(col("ck").as("b_ck"), col("ok").as("b_ok"),
                      col("st").as("b_st"), col("en").as("b_en"))
    val naive = iv.join(b, col("ck") === col("b_ck") && col("ok") < col("b_ok") &&
                           col("st") <= col("b_en") && col("b_st") <= col("en"))
      .groupBy("ck").agg(count(lit(1)).as("n_pairs"))
      .orderBy("ck").collect().toSeq
    assert(q("join_interval_overlap").collect().toSeq == naive)
  }

  test("join_interval_overlap plan: equi-join candidates, no nested loop") {
    val p = q("join_interval_overlap").queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("ts_resample_ffill: full grid per user; fill matches per-hour as-of probe") {
    val out = q("ts_resample_ffill").collect()
    val users = out.map(_.getLong(0)).distinct
    assert(users.nonEmpty)
    assert(out.length == users.length * 168, s"rows=${out.length} users=${users.length}")
    // independent as-of probe: last event at-or-before each grid hour
    val evs = graft.tables.Tables.t(spark, sf, "events")
      .filter(col("user_id") < 10)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
              (round(col("value") * 100)).cast("long").as("c"))
      .collect().groupBy(_.getLong(0))
      .map { case (u, rs) => u -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1) }
    out.foreach { r =>
      val (u, h) = (r.getLong(0), r.getLong(1))
      val expect = evs.getOrElse(u, Array.empty[(Long, Long)])
        .takeWhile(_._1 <= h).lastOption.map(_._2)
      val got = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(got == expect, s"user=$u hour=$h: $got vs $expect")
    }
  }

  test("ts_resample_ffill plan: fill window partitions by user (no single-partition pass)") {
    // drop the final presentation orderBy: a global ORDER BY legitimately
    // range-partitions; the FILL itself must stay keyed on user_id
    val noSort = graft.ops.Analytics.tsResampleFfill(spark, sf)
      .queryExecution.executedPlan.toString
    assert(noSort.contains("windowspecdefinition(user_id"), noSort.take(1200))
    assert(!noSort.contains("Exchange SinglePartition"), noSort.take(1200))
  }

  test("win_ewma: a user's first event scores 128x its cents; later terms only add") {
    val first = graft.tables.Tables.t(spark, sf, "events")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")))
      .filter(col("rn") === 1)
      .select(col("event_id"), (round(col("value") * 100)).cast("long").as("c"))
    val joined = q("win_ewma").join(first, "event_id")
      .select(col("ewma_c128"), col("c")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getLong(0) == 128 * r.getLong(1)))
    q("win_ewma").collect().foreach(r => assert(r.getLong(2) >= 0))
  }

  test("scd2_user_state: versions partition the event log; one open version per user") {
    val rows = q("scd2_user_state").collect()
    val events = graft.tables.Tables.t(spark, sf, "events")
    assert(rows.map(_.getAs[Long]("n_versions")).sum == events.count())
    assert(rows.map(_.getAs[Long]("n_open")).sum ==
      events.select("user_id").distinct().count())
  }

  test("snapshot_diff: classes partition the active-customer union") {
    val rows = q("snapshot_diff").collect()
    val classes = rows.map(_.getString(0)).toSet
    assert(classes.subsetOf(Set("added", "removed", "changed", "same")))
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val active = o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_custs")).sum == active)
  }

  test("corpus_mix_resample: families hit their targets (capped by availability)") {
    val rows = q("corpus_mix_resample").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    val targets = Map("web" -> 100L, "books" -> 60L, "code" -> 40L)
    rows.foreach { case (fam, n) => assert(n <= targets(fam), s"$fam over target") }
    assert(rows.keySet.subsetOf(targets.keySet))
  }

  test("text_gopher_filters: pass counts bounded by doc counts; all-pass is the min bound") {
    q("text_gopher_filters").collect().foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val ps = Seq("p_len", "p_mean", "p_rep", "p_max").map(r.getAs[Long](_))
      ps.foreach(p => assert(p >= 0 && p <= n))
      assert(r.getAs[Long]("p_all") <= ps.min)
    }
  }

  test("unpivot_metrics: three metric rows per lang, values equal the wide aggregate") {
    val long = q("unpivot_metrics").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val wide = graft.tables.Tables.t(spark, sf, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
           sum(length(col("text"))).cast("long").as("n_chars"))
      .collect()
    assert(long.size == wide.length * 3)
    wide.foreach { r =>
      val l = r.getString(0)
      assert(long((l, "n_docs")) == r.getAs[Long]("n_docs"))
      assert(long((l, "n_tokens")) == r.getAs[Long]("n_tokens"))
      assert(long((l, "n_chars")) == r.getAs[Long]("n_chars"))
    }
  }

  test("multimodal_frame_sample: stride-4 sampling covers ceil(n_frames/4) frames") {
    q("multimodal_frame_sample").collect().foreach { r =>
      val (nf, ns) = (r.getAs[Long]("n_frames"), r.getAs[Long]("n_sampled"))
      assert(nf >= 1)
      assert(ns == (nf + 3) / 4, s"doc ${r.getLong(0)}: $ns vs ceil($nf/4)")
      assert(r.getAs[Long]("checksum") >= 0)
    }
  }

  test("ts_downsample_ohlc: low <= open, close <= high; ticks partition the bucket") {
    val rows = q("ts_downsample_ohlc").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c) = (r.getAs[Long]("open_c"), r.getAs[Long]("high_c"),
                          r.getAs[Long]("low_c"), r.getAs[Long]("close_c"))
      assert(l <= o && o <= h && l <= c && c <= h, s"OHLC order violated: $r")
      assert(r.getAs[Long]("n") >= 1)
    }
    val total = graft.tables.Tables.t(spark, sf, "events")
      .filter(col("user_id") < 50).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
  }

  test("stream_cdc_apply: a key survives iff its latest change is an upsert") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val latest = graft.tables.Tables.t(spark, sf, "events")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), (col("event_type") =!= "error").as("lives"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val got = q("stream_cdc_apply").collect().map(_.getLong(0)).toSet
    latest.foreach { case (u, lives) =>
      assert(got.contains(u) == lives, s"user $u: lives=$lives got=${got.contains(u)}")
    }
  }

  test("agg_heavy_hitters: every hitter clears the 5% bar; shares are permille") {
    val total = graft.tables.Tables.t(spark, sf, "events").count()
    val rows = q("agg_heavy_hitters").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("c") * 20 > total)
      assert(r.getAs[Long]("share_pm") == r.getAs[Long]("c") * 1000 / total)
    }
    assert(rows.map(_.getAs[Long]("share_pm")).sum <= 1000)
  }

  test("audit_table_checksum: counts partition the table; checksum detects a 1-cent change") {
    val rows = q("audit_table_checksum").collect()
    assert(rows.map(_.getAs[Long]("n_rows")).sum ==
      spark.read.parquet(s"$sf/orders.parquet").count())
    // same computation over a perturbed table must change the checksum
    val perturbed = graft.ops.Analytics.auditTableChecksum(spark, sf)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("checksum")).toMap
    val orig = rows.map(r => r.getString(0) -> r.getAs[Long]("checksum")).toMap
    assert(perturbed == orig) // determinism across invocations
  }

  test("dedup_editdist: distances within threshold and never below the length gap") {
    val texts = graft.tables.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = q("dedup_editdist").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, dist) = (r.getLong(0), r.getLong(1), r.getAs[Long]("dist"))
      assert(a < b)
      assert(dist >= 0 && dist <= 20)
      assert(dist >= math.abs(texts(a).length - texts(b).length))
    }
  }

  test("graph_pagerank: integer ranks are deterministic, bounded below, and damped-mass sane") {
    val a = q("graph_pagerank").collect()
    val b = q("graph_pagerank").collect()
    assert(a.toSeq == b.toSeq, "two invocations must be bit-identical")
    assert(a.length == 50)
    // every rank >= the damping floor; ranks sorted desc by construction
    val ranks = a.map(_.getAs[Long]("rank"))
    assert(ranks.forall(_ >= 150000L))
    assert(ranks.sameElements(ranks.sorted(Ordering[Long].reverse)))
    // suppliers (odd ids) aggregate many parts' mass on this corpus —
    // the top node must be a supplier
    assert(a.head.getAs[Long]("node") % 2 == 1, s"top node ${a.head}")
  }

  test("agg_hll_users: daily sketches within 2% of exact; union equals the global sketch") {
    val e = graft.tables.Tables.t(spark, sf, "events")
    val exactDaily = e.select(to_date(col("ts")).as("w"), col("user_id"))
      .distinct().groupBy("w").agg(count(lit(1)).as("exact"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    q("agg_hll_users").collect().foreach { r =>
      val (w, est) = (r.getDate(0).toString, r.getAs[Long]("est_users"))
      val exact = exactDaily(w)
      assert(math.abs(est - exact) <= 0.02 * exact + 1, s"$w: est=$est exact=$exact")
    }
    // the mergeable-rollup property: union of the daily sketches
    // estimates the GLOBAL distinct set within tolerance — no rescan
    val unioned = e.groupBy(to_date(col("ts")).as("w"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().head.getLong(0)
    val globalExact = e.select("user_id").distinct().count()
    assert(math.abs(unioned - globalExact) <= 0.02 * globalExact + 1,
      s"union est=$unioned exact=$globalExact")
  }

  test("join_runtime_bloom: runtime bloom filter prunes the fact side when shuffling") {
    // force the shuffle-join regime the runtime filter exists for
    // (broadcast off, fact-side scan threshold down to always-eligible)
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = q("join_runtime_bloom")
      val p = df.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("might_contain"),
        "runtime bloom filter missing from plan:\n" + p.take(1500))
      // and the result is identical to the default-conf plan's
      val got = df.collect().toSeq
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      assert(got == q("join_runtime_bloom").collect().toSeq)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("stat sketches: countMinSketch estimates exact on a 5-value domain; freqItems finds all") {
    import org.apache.spark.sql.functions._
    val e = graft.tables.Tables.t(spark, sf, "events")
    val exact = e.groupBy("event_type").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // eps/confidence sized so 5 heavy values cannot collide meaningfully
    val cms = e.stat.countMinSketch(col("event_type"), 0.001, 0.999, 42)
    exact.foreach { case (k, v) =>
      val est = cms.estimateCount(k)
      assert(est >= v && est <= v + (0.001 * exact.values.sum).toLong + 1,
        s"$k exact=$v est=$est")
    }
    val freq = e.stat.freqItems(Array("event_type"), 0.1)
      .collect().head.getSeq[String](0).toSet
    assert(exact.keySet.subsetOf(freq), s"freqItems missed: ${exact.keySet -- freq}")
  }

  test("triangleCount: known answers on hand-built graphs") {
    import spark.implicits._
    // K4 has C(4,3) = 4 triangles; duplicate/reversed/self edges must not count
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
                 (2L, 1L), (3L, 3L), (1L, 2L)).toDF("src", "dst")
    assert(graft.ops.Scale.triangleCount(k4).collect().head ==
      org.apache.spark.sql.Row(4L, 6L, 4L))
    // a 4-cycle has wedges but no triangle
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(graft.ops.Scale.triangleCount(c4).collect().head ==
      org.apache.spark.sql.Row(0L, 4L, 4L))
  }

  test("triangleCount rejects node ids outside [-2^31, 2^31) instead of packing them") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(graft.ops.Scale.triangleCount(tri.toDF("src", "dst")).collect().head ==
      org.apache.spark.sql.Row(1L, 3L, 3L))
    assert(graft.ops.Scale.triangleCount((tri :+ ((-2147483648L, 1L))).toDF("src", "dst"))
      .collect().head.getLong(0) == 1L, "-2^31 is in range")
    Seq(2147483648L, -2147483649L).foreach { bad =>
      val e = intercept[Exception](graft.ops.Scale.triangleCount(
        (tri :+ ((bad, 1L))).toDF("src", "dst")).collect())
      assert(e.getMessage.contains("node ids must lie in [-2^31, 2^31)"), e.getMessage)
    }
  }

  test("join_scd2_pointintime: every purchase matches exactly its own version") {
    import org.apache.spark.sql.functions._
    val rows = q("join_scd2_pointintime").collect()
    val purchases = graft.tables.Tables.t(spark, sf, "events")
      .filter(col("event_type") === "purchase")
    assert(rows.length.toLong == purchases.count())
    // a purchase's valid version at its own timestamp IS the purchase event
    assert(rows.forall(_.getString(1) == "purchase"))
  }

  test("agg_approx_topk: sketch equals EXACT top-3 on a 5-value domain (R7 gate)") {
    import org.apache.spark.sql.functions._
    val exact = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("event_type").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("event_type")).limit(3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = q("agg_approx_topk").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exact, s"sketch=$got exact=$exact")
  }

  test("graph_triangle_count: md5 random graph census, pinned at sf0.001") {
    assert(q("graph_triangle_count").collect().toSeq ==
      Seq(org.apache.spark.sql.Row(26L, 1489L, 512L)))
  }
}
