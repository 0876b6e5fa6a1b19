package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the native as-of join — the engine's
  * whole-operator Catalyst extension (logical node → strategy →
  * merge-scan exec). Value semantics are pinned on a constructed
  * fixture covering every edge the merge pass has to get right, the
  * plan shape is pinned window-free, and the operator must agree with
  * the window-twin formulation AND the DuckDB-shared oracle query on
  * real data.
  */
class AsOfJoinSpec extends AnyFunSuite {

  lazy val spark = graft.GraftSession.build("asof-spec", "4")
  val sf = "/root/testdata/sf0.01"

  test("merge semantics on a constructed fixture: latest-at-or-before per key") {
    import spark.implicits._
    // left: (key, ltime, lid)  right: (key, rtime, tag)
    val left = Seq(
      (1L, 10L, "a"),   // signup at 5 → s5
      (1L, 20L, "b"),   // signups at 5,15 → s15
      (1L, 15L, "c"),   // tie: signup exactly at 15 → s15
      (2L, 10L, "d"),   // only signup is at 11 (after) → null
      (3L, 10L, "e"),   // no signups at all → null
      (4L, 10L, "f")    // null right time is skipped → s3
    ).toDF("k", "lt", "lid")
    val right = Seq(
      (1L, Option(5L), "s5"), (1L, Option(15L), "s15"),
      (2L, Option(11L), "s11"),
      (4L, Option(3L), "s3"), (4L, None: Option[Long], "snull")
    ).toDF("k", "rt", "tag")
      .select(col("k").as("rk"), col("rt"), col("tag"))
    val out = AsOfJoinOps.asof(left, right,
        Seq(left("k")), Seq(right("rk")), left("lt"), right("rt"),
        hint = AsOfHint.Merge)
      .select("lid", "tag").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(out === Map("a" -> "s5", "b" -> "s15", "c" -> "s15",
      "d" -> null, "e" -> null, "f" -> "s3"))
    // null LEFT time: no match even when right rows exist for the key
    val nullLeft = Seq((4L, Option.empty[Long], "g")).toDF("k", "lt", "lid")
    val out2 = AsOfJoinOps.asof(nullLeft, right,
        Seq(nullLeft("k")), Seq(right("rk")), nullLeft("lt"), right("rt"),
        hint = AsOfHint.Merge)
      .select("tag").collect()
    assert(out2.length === 1 && out2.head.isNullAt(0))
  }

  test("null equi-keys match nothing (SQL equi-join semantics)") {
    import spark.implicits._
    // A null key must behave like `l.k = r.k` in SQL: the left row
    // emits nulls and the right row is never a candidate — NOT the
    // null-group-joins-null-group reading the sort order would give.
    val left = Seq((Option(1L), 10L, "a"), (Option.empty[Long], 10L, "b"),
      (Option(2L), 10L, "c")).toDF("k", "lt", "lid")
    val right = Seq((Option(1L), 5L, "r1"), (Option.empty[Long], 5L, "rnull"),
      (Option(2L), 7L, "r2")).toDF("rk", "rt", "tag")
    val out = AsOfJoinOps.asof(left, right,
        Seq(left("k")), Seq(right("rk")), left("lt"), right("rt"),
        hint = AsOfHint.Merge)
      .select("lid", "tag").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(out === Map("a" -> "r1", "b" -> null, "c" -> "r2"),
      s"null-key rows leaked into the match: $out")
  }

  test("self-as-of: latest strictly-earlier event per user from ONE DataFrame") {
    import spark.implicits._
    // both sides descend from the SAME DataFrame instance — duplicate
    // attribute exprIds must be deduped inside asof() (Spark Join's
    // newInstance pattern), or the node corrupts. Strictly-earlier is
    // at-or-before probing at es − 1.
    val ev = Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 30L, 102L),
      (2L, 5L, 200L), (3L, 7L, 300L)).toDF("user_id", "es", "event_id")
    val probe = ev.withColumn("probe_es", ev("es") - 1)
    val out = AsOfJoinOps.asof(probe, ev,
        Seq(probe("user_id")), Seq(ev("user_id")),
        probe("probe_es"), ev("es"), hint = AsOfHint.Merge)
      // duplicate names across the two sides — rename positionally
      .toDF("user_id", "es", "event_id", "probe_es",
        "r_user_id", "r_es", "r_event_id")
      .select("event_id", "r_event_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out === Map(100L -> -1L, 101L -> 100L, 102L -> 101L,
      200L -> -1L, 300L -> -1L), s"self-as-of diverged: $out")
  }

  test("asof_nat plans the custom operator window-free and equals the window twin") {
    val native = graft.operators.StatOps.asofJoinNative(spark, sf)
    val plan = native.queryExecution.executedPlan.toString()
    assert(plan.contains("AsOfJoin"),
      s"custom strategy did not plan the as-of node:\n$plan")
    assert(!plan.contains("Window"),
      s"window operator leaked into the native as-of plan:\n$plan")
    val twin = graft.operators.StatOps.asofJoin(spark, sf)
    assert(native.collect().map(_.toString).toSeq ===
      twin.collect().map(_.toString).toSeq,
      "native as-of join diverged from the window formulation")
  }

  test("column pruning pushes through the custom node into both scans' ReadSchema") {
    import spark.implicits._
    // wide frames on REAL parquet: selecting two columns from the
    // as-of join must narrow both file scans — without the
    // PruneAsOfJoinColumns rule the unknown node blocks Catalyst's
    // ColumnPruning and every junk column is read and shuffled
    val base = java.nio.file.Files.createTempDirectory("graft_asof_prune").toString
    (0 until 100).map(i => (i.toLong % 10, i.toLong, s"L$i", s"ljunkA$i", s"ljunkB$i"))
      .toDF("k", "lt", "lpay", "ljunk_a", "ljunk_b")
      .write.mode("overwrite").parquet(s"$base/left")
    (0 until 50).map(i => (i.toLong % 10, i.toLong * 2, s"R$i", s"rjunkA$i", s"rjunkB$i"))
      .toDF("rk", "rt", "rpay", "rjunk_a", "rjunk_b")
      .write.mode("overwrite").parquet(s"$base/right")
    val l = spark.read.parquet(s"$base/left")
    val r = spark.read.parquet(s"$base/right")
    val narrow = AsOfJoinOps.asof(l, r, Seq(l("k")), Seq(r("rk")), l("lt"), r("rt"))
      .select("lpay", "rpay")
    val formatted = narrow.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!formatted.contains("ljunk_a") && !formatted.contains("rjunk_b"),
      s"junk columns survived into the physical plan:\n$formatted")
    assert(formatted.contains("lpay") && formatted.contains("rpay"),
      s"selected payloads missing from the plan:\n$formatted")
    // and the pruned plan still computes the right values
    val got = narrow.collect().map(x =>
      x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1))).toMap
    assert(got.size === 100 && got.values.exists(_ != null))
  }

  test("left filters push below the node; right filters must NOT (semantics pin)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_asof_push").toString
    Seq((1L, 10L, "keep"), (1L, 20L, "drop"), (2L, 10L, "keep"))
      .toDF("k", "lt", "lflag").write.mode("overwrite").parquet(s"$base/left")
    // user 1 history: tagged signup at 3, untagged at 5 — the LATEST
    // at-or-before t=10 is the untagged one
    Seq((1L, 3L, "tag"), (1L, 5L, "other"), (2L, 4L, "tag"))
      .toDF("rk", "rt", "rtag").write.mode("overwrite").parquet(s"$base/right")
    val l = spark.read.parquet(s"$base/left")
    val r = spark.read.parquet(s"$base/right")
    def asof = AsOfJoinOps.asof(l, r, Seq(l("k")), Seq(r("rk")), l("lt"), r("rt"))
    // LEFT predicate: reaches the left scan as a pushed data filter
    val lf = asof.filter(col("lflag") === "keep")
    val formatted = lf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scanFilterRe = "PushedFilters: \\[[^\\]]*lflag".r
    assert(scanFilterRe.findFirstIn(formatted).isDefined,
      s"left predicate did not reach the left scan's PushedFilters:\n$formatted")
    assert(lf.count() === 2)
    // RIGHT predicate: stays ABOVE the join — "latest signup, if
    // tagged" (null for user 1, whose latest is untagged), not
    // "latest TAGGED signup" (which would resurrect rt=3)
    val rf = asof.filter(col("rtag") === "tag" || col("rtag").isNull)
    val rows = rf.select("k", "lt", "rtag").collect()
      .map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) null else x.getString(2))).toSet
    // user 1 rows: latest signup is "other" → filtered OUT entirely
    // (not rewritten to the older tagged signup); user 2 keeps "tag"
    assert(rows === Set((2L, 10L, "tag")),
      s"right-side filter changed as-of semantics: $rows")
    val optR = rf.queryExecution.optimizedPlan.toString()
    // the rtag predicate must sit above AsOfJoin, not inside its right child
    val idxFilter = optR.indexOf("rtag")
    val idxNode = optR.indexOf("AsOfJoin")
    assert(idxFilter >= 0 && idxNode >= 0 && idxFilter < idxNode,
      s"right predicate was pushed below the as-of node:\n$optR")
  }

  test("tolerance bounds the match gap; forward direction is time negation") {
    import spark.implicits._
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 100L, "c"))
      .toDF("k", "lt", "lid")
    // key 1 history at 95 and 120; key 2 history at 10 only
    val right = Seq((1L, 95L, "r95"), (1L, 120L, "r120"), (2L, 10L, "r10"))
      .toDF("rk", "rt", "tag")
    def run(tol: Option[Long]) =
      AsOfJoinOps.asof(left, right, Seq(left("k")), Seq(right("rk")),
          left("lt"), right("rt"), tol, hint = AsOfHint.Merge)
        .select("lid", "tag").collect()
        .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1)))
        .toMap
    // unbounded: stale r10 still matches c
    assert(run(None) === Map("a" -> "r95", "b" -> "r120", "c" -> "r10"))
    // tolerance 80: a (gap 5) and b (gap 80) match; c (gap 90) nulls —
    // and the candidate machinery keeps serving later rows of the key
    assert(run(Some(80L)) === Map("a" -> "r95", "b" -> "r120", "c" -> null))
    // tolerance 4: everything out of range
    assert(run(Some(4L)) === Map("a" -> null, "b" -> null, "c" -> null))
    // FORWARD as-of ("earliest at-or-after") via negated times: for
    // lt=100 on key 1 the next history row is 120, not 95. Computed
    // expressions must be materialized with withColumn first (the
    // API rejects raw -col() stubs — pinned below)
    val lneg = left.withColumn("nlt", -col("lt"))
    val rneg = right.withColumn("nrt", -col("rt"))
    val fwd = AsOfJoinOps.asof(lneg, rneg,
        Seq(lneg("k")), Seq(rneg("rk")), lneg("nlt"), rneg("nrt"),
        hint = AsOfHint.Merge)
      .select("lid", "tag").collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1)))
      .toMap
    assert(fwd === Map("a" -> "r120", "b" -> null, "c" -> null),
      s"forward-asof via negation broke: $fwd")
    // the API must reject non-materialized computed expressions with
    // a usable message (Spark 4 column nodes leave them unresolved
    // inside a custom operator)
    val err = intercept[IllegalArgumentException] {
      AsOfJoinOps.asof(left, right, Seq(left("k")), Seq(right("rk")),
        -left("lt"), -right("rt"))
    }
    assert(err.getMessage.contains("materialized column"))
  }

  test("bucketed inputs satisfy the node's distribution: as-of plans with zero Exchange") {
    import spark.implicits._
    // the repeated-join amortization story extends to the custom
    // operator: because AsOfJoinExec declares the same
    // ClusteredDistribution contract as sort-merge join, a history
    // table bucketed on the key joins as-of with NO shuffle on either
    // side — at 100 TB the hourly "enrich events with latest state"
    // job stops paying two corpus shuffles per run
    val base = java.nio.file.Files.createTempDirectory("graft_asof_bkt").toString
    spark.sql("DROP TABLE IF EXISTS asof_bkt_l")
    spark.sql("DROP TABLE IF EXISTS asof_bkt_r")
    (0 until 200).map(i => (i.toLong % 20, i.toLong, s"L$i"))
      .toDF("k", "lt", "lpay")
      .write.mode("overwrite").option("path", s"$base/l")
      .bucketBy(8, "k").sortBy("k", "lt").saveAsTable("asof_bkt_l")
    (0 until 100).map(i => (i.toLong % 20, i.toLong * 2, s"R$i"))
      .toDF("rk", "rt", "rpay")
      .write.mode("overwrite").option("path", s"$base/r")
      .bucketBy(8, "rk").sortBy("rk", "rt").saveAsTable("asof_bkt_r")
    val l = spark.table("asof_bkt_l")
    val r = spark.table("asof_bkt_r")
    val j = AsOfJoinOps.asof(l, r, Seq(l("k")), Seq(r("rk")), l("lt"), r("rt"),
      hint = AsOfHint.Merge)
    val plan = j.queryExecution.executedPlan.toString()
    assert(plan.contains("AsOfJoin") && !plan.contains("BroadcastAsOfJoin") &&
      !plan.contains("Exchange"),
      s"bucketed as-of join still shuffles:\n$plan")
    // not vacuous: the same join from raw parquet DOES exchange
    val lp = spark.read.parquet(s"$base/l")
    val rp = spark.read.parquet(s"$base/r")
    val raw = AsOfJoinOps.asof(lp, rp,
      Seq(lp("k")), Seq(rp("rk")), lp("lt"), rp("rt"), hint = AsOfHint.Merge)
    assert(raw.queryExecution.executedPlan.toString().contains("Exchange"))
    // and the layouts agree on the result
    assert(j.orderBy("lpay").collect().map(_.toString).toSeq ===
      raw.orderBy("lpay").collect().map(_.toString).toSeq)
    // the SQL TVF resolves CATALOG tables, so the bucketed layout's
    // zero-Exchange plan is reachable from pure SQL too
    val sql = spark.sql(
      "SELECT * FROM asof_join('asof_bkt_l', 'asof_bkt_r', 'k:rk', 'lt', 'rt', 'merge')")
    val sqlPlan = sql.queryExecution.executedPlan.toString()
    assert(sqlPlan.contains("AsOfJoin") && !sqlPlan.contains("BroadcastAsOfJoin") &&
      !sqlPlan.contains("Exchange"),
      s"TVF over bucketed tables still shuffles:\n$sqlPlan")
    assert(sql.orderBy("lpay").collect().map(_.toString).toSeq ===
      j.orderBy("lpay").collect().map(_.toString).toSeq)
  }

  test("timestamp time columns, composite keys, string keys") {
    import spark.implicits._
    // TIMESTAMP times: internally Long microseconds, so the merge and
    // the tolerance (in MICROseconds for timestamps) work unchanged
    val t0 = 1700000000L
    val lts = Seq((1L, t0 + 100, "a"), (1L, t0 + 400, "b"))
      .toDF("k", "es", "lid")
      .withColumn("lt", timestamp_seconds(col("es")))
    val rts = Seq((1L, t0 + 90, "r90"), (1L, t0 + 150, "r150"))
      .toDF("rk", "res", "tag")
      .withColumn("rt", timestamp_seconds(col("res")))
    def runTs(tol: Option[Long]) =
      AsOfJoinOps.asof(lts, rts, Seq(lts("k")), Seq(rts("rk")),
          lts("lt"), rts("rt"), tol, hint = AsOfHint.Merge)
        .select("lid", "tag").collect()
        .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1)))
        .toMap
    assert(runTs(None) === Map("a" -> "r90", "b" -> "r150"))
    // tolerance 20 s = 20e6 µs: a (gap 10 s) keeps, b (gap 250 s) nulls
    assert(runTs(Some(20L * 1000000)) === Map("a" -> "r90", "b" -> null))
    // mixed long/timestamp time types must fail fast with a usable message
    val mixed = intercept[Exception] {
      AsOfJoinOps.asof(lts, rts, Seq(lts("k")), Seq(rts("rk")),
        lts("es"), rts("rt")).collect()
    }
    assert(mixed.getMessage.contains("same"), s"unhelpful: ${mixed.getMessage}")
    // COMPOSITE (two-column) keys with a STRING component: candidate
    // carry must respect the full key tuple
    val l2 = Seq(("eu", 1L, 10L, "x"), ("us", 1L, 10L, "y"), ("eu", 2L, 10L, "z"))
      .toDF("region", "k", "lt", "lid")
    val r2 = Seq(("eu", 1L, 5L, "eu1"), ("us", 1L, 7L, "us1"), ("eu", 2L, 9L, "eu2"))
      .toDF("r_region", "rk", "rt", "tag")
    val out2 = AsOfJoinOps.asof(l2, r2,
        Seq(l2("region"), l2("k")), Seq(r2("r_region"), r2("rk")),
        l2("lt"), r2("rt"), hint = AsOfHint.Merge)
      .select("lid", "tag").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(out2 === Map("x" -> "eu1", "y" -> "us1", "z" -> "eu2"))
    // and the same composite spec through the SQL TVF ('a,b' key list)
    l2.createOrReplaceTempView("asof_ck_l")
    r2.createOrReplaceTempView("asof_ck_r")
    val sql = spark.sql(
      """SELECT lid, tag FROM asof_join('asof_ck_l', 'asof_ck_r',
           'region:r_region,k:rk', 'lt', 'rt') ORDER BY lid""").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(sql === out2, "TVF composite-key spec diverged from the Scala API")
  }

  test("broadcast form: zero shuffles, equal to the merge exec, same edge semantics") {
    import spark.implicits._
    // the BHJ analog: right side collected + broadcast, left flows
    // through with its scan partitioning — NO Exchange anywhere
    import graft.operators.TimeSeriesOps
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeriesOps.epochSecExpr("ts").as("es"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("es"))
    val su = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
    def run(bcast: Boolean) = AsOfJoinOps.asof(p, su,
      Seq(p("user_id")), Seq(su("s_uid")), p("es"), su("signup_es"),
      hint = if (bcast) AsOfHint.Broadcast else AsOfHint.Merge)
    val bc = run(true)
    val plan = bc.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastAsOfJoin"), s"broadcast form not planned:\n$plan")
    assert(!plan.contains("Exchange"), s"broadcast as-of still shuffles:\n$plan")
    // value equality with the merge-scan form on real data
    assert(bc.orderBy("event_id").collect().map(_.toString).toSeq ===
      run(false).orderBy("event_id").collect().map(_.toString).toSeq,
      "broadcast form diverged from the merge-scan form")
    // the boxed-Map index's measured memory bill per right row — the
    // number the broadcastRight doc quotes. A generous band: blowing
    // past it means the index layout regressed to something a compact
    // UnsafeRow-paged build should replace
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def deep(pl: SparkPlan): Seq[SparkPlan] =
      (pl +: pl.children.flatMap(deep)) ++ (pl match {
        case qs: QueryStageExec => deep(qs.plan)
        case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
        case _ => Nil
      })
    bc.collect() // drive THIS plan: the orderBy above executed a derived one
    val exec = deep(bc.queryExecution.executedPlan)
      .collectFirst { case e: BroadcastAsOfJoinExec => e }.get
    val rowsIdx = exec.metrics("indexRows").value
    val bytesIdx = exec.metrics("indexBytes").value
    assert(rowsIdx > 100, s"fixture too small to measure: $rowsIdx rows")
    val bytesPerRow = bytesIdx.toDouble / rowsIdx
    info(f"broadcast index: $rowsIdx rows, $bytesIdx bytes ($bytesPerRow%.0f B/row)")
    assert(bytesPerRow > 8 && bytesPerRow < 2000,
      s"broadcast index memory bill out of band: $bytesPerRow B/row")
    // edge semantics shared with the merge: null keys/times match
    // nothing, tolerance bounds the gap, ties take the latest
    val left = Seq((Option(1L), 100L, "a"), (Option(1L), 200L, "b"),
      (Option.empty[Long], 100L, "n"), (Option(2L), 100L, "c"))
      .toDF("k", "lt", "lid")
    val right = Seq((Option(1L), Option(95L), "r95"),
      (Option(1L), Option(120L), "r120"), (Option(1L), Option.empty[Long], "rnull"),
      (Option.empty[Long], Option(50L), "rn"), (Option(2L), Option(10L), "r10"))
      .toDF("rk", "rt", "tag")
    def runFix(tol: Option[Long]) = AsOfJoinOps.asof(left, right,
        Seq(left("k")), Seq(right("rk")), left("lt"), right("rt"),
        tol, hint = AsOfHint.Broadcast)
      .select("lid", "tag").collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1)))
      .toMap
    assert(runFix(None) === Map("a" -> "r95", "b" -> "r120", "n" -> null, "c" -> "r10"))
    assert(runFix(Some(80L)) === Map("a" -> "r95", "b" -> "r120", "n" -> null, "c" -> null))
    // self-as-of composes with the broadcast form: the exprId dedup
    // and the driver-built index must agree on one source DataFrame
    val ev2 = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 200L))
      .toDF("user_id", "es", "event_id")
    val probe = ev2.withColumn("probe_es", ev2("es") - 1)
    val selfBc = AsOfJoinOps.asof(probe, ev2,
        Seq(probe("user_id")), Seq(ev2("user_id")),
        probe("probe_es"), ev2("es"),
        hint = AsOfHint.Broadcast)
      .toDF("user_id", "es", "event_id", "probe_es",
        "r_user_id", "r_es", "r_event_id")
      .select("event_id", "r_event_id").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1)))
      .toMap
    assert(selfBc === Map(100L -> -1L, 101L -> 100L, 200L -> -1L),
      s"broadcast self-as-of diverged: $selfBc")
    // and from SQL: the trailing 'broadcast' option plans the same form
    left.createOrReplaceTempView("asof_bc_l")
    right.createOrReplaceTempView("asof_bc_r")
    val sql = spark.sql(
      """SELECT lid, tag FROM asof_join('asof_bc_l', 'asof_bc_r',
           'k:rk', 'lt', 'rt', 'broadcast')""")
    assert(sql.queryExecution.executedPlan.toString().contains("BroadcastAsOfJoin"))
    assert(sql.collect().map(x =>
        x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1))).toMap
      === runFix(None))
  }

  test("stats-driven physical selection: Auto broadcasts a small right side, merges a large one") {
    // the JoinSelection analog, spec-pinned both ways on the SAME
    // data by dialing spark.sql.autoBroadcastJoinThreshold on child
    // sessions: under the default 10 MB threshold the sf0.01 signup
    // side's logical stats are small → the strategy must choose the
    // broadcast probe WITHOUT any hint; with the threshold at 1 byte
    // the same stats are "large" → merge; with −1 (Spark's universal
    // never-broadcast escape) → merge. All three result-identical.
    import graft.operators.TimeSeriesOps
    def build(s: org.apache.spark.sql.SparkSession) = {
      val ev = graft.sources.Tables.events(s, sf)
        .select(col("user_id"), col("event_id"), col("event_type"),
          TimeSeriesOps.epochSecExpr("ts").as("es"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("es"))
      val su = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
      AsOfJoinOps.asof(p, su, Seq(p("user_id")), Seq(su("s_uid")),
        p("es"), su("signup_es")) // NO hint — the planner decides
    }
    val small = spark.newSession() // default threshold: 10 MB
    val autoBc = build(small)
    val bcPlan = autoBc.queryExecution.executedPlan.toString()
    assert(bcPlan.contains("BroadcastAsOfJoin") && !bcPlan.contains("Exchange"),
      s"Auto did not broadcast a small right side:\n$bcPlan")
    val tight = spark.newSession()
    tight.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    val autoMerge = build(tight)
    val mPlan = autoMerge.queryExecution.executedPlan.toString()
    assert(mPlan.contains("AsOfJoin") && !mPlan.contains("BroadcastAsOfJoin"),
      s"Auto broadcast a right side LARGER than the threshold:\n$mPlan")
    val never = spark.newSession()
    never.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val neverPlan = build(never).queryExecution.executedPlan.toString()
    assert(!neverPlan.contains("BroadcastAsOfJoin"),
      s"threshold=-1 must disable auto-broadcast:\n$neverPlan")
    assert(autoBc.orderBy("event_id").collect().map(_.toString).toSeq ===
      autoMerge.orderBy("event_id").collect().map(_.toString).toSeq,
      "the two auto-chosen forms disagree on values")
  }

  test("directions: forward and nearest semantics, both physical forms") {
    import spark.implicits._
    // k=1 history at 2, 9, 11, 30 (+ a null-time row); k=2 at 100
    // only; k=3 empty. Covers: equidistant tie → backward (a),
    // forward strictly closer (b), exact-time hit (c, distance 0 both
    // ways — and forward is INCLUSIVE at-or-after), no-backward (d),
    // far-only-forward vs tolerance (e), no history (f).
    val left = Seq((1L, 10L, "a"), (1L, 25L, "b"), (1L, 2L, "c"),
      (1L, 1L, "d"), (2L, 10L, "e"), (3L, 10L, "f")).toDF("k", "lt", "lid")
    val right = Seq(
      (Option(1L), Option(2L), "h2"), (Option(1L), Option(9L), "h9"),
      (Option(1L), Option(11L), "h11"), (Option(1L), Option(30L), "h30"),
      (Option(1L), Option.empty[Long], "hnull"),
      (Option.empty[Long], Option(10L), "knull"),
      (Option(2L), Option(100L), "h100")).toDF("rk", "rt", "tag")
    def run(dir: AsOfDirection, tol: Option[Long], h: AsOfHint) =
      AsOfJoinOps.asof(left, right, Seq(left("k")), Seq(right("rk")),
          left("lt"), right("rt"), tol, dir, h)
        .select("lid", "tag").collect()
        .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1)))
        .toMap
    val wantFwd = Map("a" -> "h11", "b" -> "h30", "c" -> "h2",
      "d" -> "h2", "e" -> "h100", "f" -> null)
    val wantNear = Map("a" -> "h9" /* tie 1:1 → backward */, "b" -> "h30",
      "c" -> "h2", "d" -> "h2", "e" -> "h100", "f" -> null)
    val wantNearTol = wantNear + ("e" -> null) // dist 90 > 50
    for (h <- Seq(AsOfHint.Merge, AsOfHint.Broadcast)) {
      assert(run(AsOfDirection.Forward, None, h) === wantFwd, s"forward/$h")
      assert(run(AsOfDirection.Nearest, None, h) === wantNear, s"nearest/$h")
      assert(run(AsOfDirection.Nearest, Some(50L), h) === wantNearTol,
        s"nearest+tol/$h")
      assert(run(AsOfDirection.Forward, Some(50L), h) ===
        wantFwd + ("e" -> null), s"forward+tol/$h")
    }
    // native forward ≡ the documented negation trick on the same data
    val lneg = left.withColumn("nlt", -col("lt"))
    val rneg = right.withColumn("nrt", -col("rt"))
    val viaNeg = AsOfJoinOps.asof(lneg, rneg,
        Seq(lneg("k")), Seq(rneg("rk")), lneg("nlt"), rneg("nrt"),
        hint = AsOfHint.Merge)
      .select("lid", "tag").collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1)))
      .toMap
    assert(viaNeg === wantFwd, "negation twin disagrees with native forward")
    // nearest through the SQL TVF, and option conflicts fail fast
    left.createOrReplaceTempView("asof_dir_l")
    right.createOrReplaceTempView("asof_dir_r")
    val sqlNear = spark.sql(
      """SELECT lid, tag FROM asof_join('asof_dir_l', 'asof_dir_r',
           'k:rk', 'lt', 'rt', 'nearest')""").collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1)))
      .toMap
    assert(sqlNear === wantNear, "TVF 'nearest' diverged from the Scala API")
    val dup = intercept[Exception] {
      spark.sql("""SELECT * FROM asof_join('asof_dir_l', 'asof_dir_r',
        'k:rk', 'lt', 'rt', 'forward', 'nearest')""").collect()
    }
    assert(dup.getMessage.contains("twice"), dup.getMessage)
  }

  test("salted as-of: hot-key skew splits across partitions, values unchanged") {
    import spark.implicits._
    // one pathological key (0) carries 80% of the left rows — the
    // merge form puts ALL of them in one partition (SMJ's bill). The
    // salted wrapper must (a) return exactly the plain operator's
    // values and (b) shrink the max left-partition row count by ~the
    // salt factor, because each (key, salt) cell carries the full
    // history and left rows spread by row hash.
    // child session: AQE partition coalescing OFF — at this toy scale
    // it would fold every post-shuffle partition into one and erase
    // the histogram the test measures (production keeps it on; the
    // hot key is still hot after coalescing at real volume)
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "16")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val hot = (0 until 8000).map(i => (0L, 100L + i % 50, i.toLong))
    val cold = (0 until 2000).map(i => ((1L + i % 200), 100L + i % 50, 100000L + i))
    val left = s.createDataset(hot ++ cold)(
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      .toDF("k", "lt", "lid")
      .repartition(8)
    val right = s.createDataset(
        (0L to 200L).flatMap(k => Seq((k, 90L, 10000L + k), (k, 120L, 20000L + k))))(
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      .toDF("rk", "rt", "rid").repartition(4)
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "rid").collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1)))
        .toMap
    val plain = AsOfJoinOps.asof(left, right,
      Seq(left("k")), Seq(right("rk")), left("lt"), right("rt"),
      hint = AsOfHint.Merge)
    val salted = AsOfJoinOps.asofSalted(left, right,
      Seq(left("k")), Seq(right("rk")), left("lt"), right("rt"), salts = 8)
    assert(toMapOf(salted) === toMapOf(plain),
      "salting changed as-of values")
    // the salt column must not leak into the output schema
    assert(salted.columns.toSeq === plain.columns.toSeq,
      s"schema changed: ${salted.columns.toSeq}")
    // partition histogram: output partitioning = the exec's left-side
    // partitioning, so the max partition of the OUTPUT measures the
    // hot key's split
    def maxPart(df: org.apache.spark.sql.DataFrame) =
      df.rdd.mapPartitions(it => Iterator(it.size)).collect().max
    val (mp, ms) = (maxPart(plain), maxPart(salted))
    assert(ms * 2 <= mp,
      s"salting did not split the hot key: plain max=$mp salted max=$ms")
    // tolerance + direction compose through the wrapper
    val nearSalt = AsOfJoinOps.asofSalted(left, right,
      Seq(left("k")), Seq(right("rk")), left("lt"), right("rt"),
      salts = 4, tolerance = Some(15L), direction = AsOfDirection.Nearest)
    val nearPlain = AsOfJoinOps.asof(left, right,
      Seq(left("k")), Seq(right("rk")), left("lt"), right("rt"),
      Some(15L), AsOfDirection.Nearest, AsOfHint.Merge)
    assert(toMapOf(nearSalt) === toMapOf(nearPlain),
      "salted nearest diverged from plain nearest")
    // and from SQL: the 'salt:N' trailing option takes the same path
    left.createOrReplaceTempView("asof_salt_l")
    right.createOrReplaceTempView("asof_salt_r")
    val sqlSalt = s.sql(
      """SELECT lid, rid FROM asof_join('asof_salt_l', 'asof_salt_r',
           'k:rk', 'lt', 'rt', 'salt:8')""")
    assert(toMapOf(sqlSalt) === toMapOf(plain),
      "TVF 'salt:N' diverged from the Scala salted path")
    val badSalt = intercept[Exception] {
      s.sql("""SELECT * FROM asof_join('asof_salt_l', 'asof_salt_r',
        'k:rk', 'lt', 'rt', 'salt:x')""").collect()
    }
    assert(badSalt.getMessage.contains("bad salt count"), badSalt.getMessage)
    val conflict = intercept[Exception] {
      s.sql("""SELECT * FROM asof_join('asof_salt_l', 'asof_salt_r',
        'k:rk', 'lt', 'rt', 'salt:4', 'broadcast')""").collect()
    }
    assert(conflict.getMessage.contains("merge form"), conflict.getMessage)
  }

  test("auto selection reads PLAN stats: column pruning flips the choice") {
    import spark.implicits._
    // the broadcast decision consumes the OPTIMIZED plan's stats, not
    // the table's raw size — so PruneAsOfJoinColumns narrowing the
    // right side (width ratio shrinks Project stats) can carry it
    // under the threshold. Same parquet table, same threshold: the
    // full-width join merges, the two-column projection broadcasts.
    val base = java.nio.file.Files.createTempDirectory("graft_asof_stats").toString
    (0 until 2000).map(i => (i.toLong % 50, i.toLong,
      "x" * 200, "y" * 200, "z" * 200))
      .toDF("rk", "rt", "pay_a", "pay_b", "pay_c")
      .write.mode("overwrite").parquet(s"$base/right")
    (0 until 500).map(i => (i.toLong % 50, i.toLong * 2))
      .toDF("k", "lt")
      .write.mode("overwrite").parquet(s"$base/left")
    val s = spark.newSession()
    val rSize = new java.io.File(s"$base/right").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // threshold strictly between the 2-of-5-column projection's stats
    // (~2/5 width ratio, and far less here since the junk is the
    // payload bulk) and the full relation size
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", (rSize / 2).toString)
    val l = s.read.parquet(s"$base/left")
    val r = s.read.parquet(s"$base/right")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString()
    val wide = AsOfJoinOps.asof(l, r,
      Seq(l("k")), Seq(r("rk")), l("lt"), r("rt"))
    assert(!planOf(wide).contains("BroadcastAsOfJoin"),
      s"full-width right side should exceed the dialed threshold:\n${planOf(wide)}")
    val narrow = wide.select("k", "lt", "rt")
    assert(planOf(narrow).contains("BroadcastAsOfJoin"),
      s"pruned right side should fall under the threshold:\n${planOf(narrow)}")
    // both shapes return the same values for the shared columns
    assert(narrow.collect().map(_.toString).sorted.toSeq ===
      wide.select("k", "lt", "rt").collect().map(_.toString).sorted.toSeq)
  }

  test("guards fail fast: mismatched key types, bad TVF key entries, duplicate options") {
    import spark.implicits._
    val l = Seq((1, 10L, "a")).toDF("k", "lt", "lid") // INT key
    val r = Seq((1L, 5L, "r")).toDF("rk", "rt", "tag") // BIGINT key
    // a SQL join would coerce; this node byte-compares — must error,
    // not silently drop every match
    val e1 = intercept[IllegalArgumentException] {
      AsOfJoinOps.asof(l, r, Seq(l("k")), Seq(r("rk")), l("lt"), r("rt"))
    }
    assert(e1.getMessage.contains("mismatched types"), e1.getMessage)
    // TVF: a trailing colon is a mistyped right key, not a same-named one
    Seq((1L, 10L, "a")).toDF("k", "lt", "lid").createOrReplaceTempView("g_l")
    Seq((1L, 5L, "r")).toDF("rk", "rt", "tag").createOrReplaceTempView("g_r")
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM asof_join('g_l', 'g_r', 'k:', 'lt', 'rt')").collect()
    }
    assert(e2.getMessage.contains("bad key entry"), e2.getMessage)
    // duplicate trailing options error instead of last-wins
    val e3 = intercept[Exception] {
      spark.sql("SELECT * FROM asof_join('g_l', 'g_r', 'k:rk', 'lt', 'rt', 5, 500)")
        .collect()
    }
    assert(e3.getMessage.contains("twice"), e3.getMessage)
  }

  test("the strategy and rules are installed once, by GraftExtensions only") {
    import spark.implicits._
    // a second, runtime install through the session's experimental
    // methods would run both rules again in Spark's "User Provided
    // Optimizers" batch for every later query, and list the strategy
    // twice in the planner
    val l = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "lt", "lid")
    val r = Seq((1L, 5L, "r5")).toDF("rk", "rt", "tag")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1))).toMap
    val want = Map("a" -> "r5", "b" -> null)
    assert(pairs(AsOfJoinOps.asof(l, r, Seq(l("k")), Seq(r("rk")), l("lt"), r("rt"))
      .select("lid", "tag")) === want)
    l.createOrReplaceTempView("once_l")
    r.createOrReplaceTempView("once_r")
    assert(pairs(spark.sql(
      "SELECT lid, tag FROM asof_join('once_l', 'once_r', 'k:rk', 'lt', 'rt')")) === want)
    val runtime = spark.sessionState.experimentalMethods
    assert(runtime.extraStrategies.isEmpty, runtime.extraStrategies)
    assert(runtime.extraOptimizations.isEmpty, runtime.extraOptimizations)
    assert(spark.sessionState.planner.strategies.count(_ eq AsOfJoinStrategy) === 1)
  }

  test("both execs expose SQL metrics: output rows, matched rows") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "lt", "lid")
    val right = Seq((1L, 5L, "r")).toDF("rk", "rt", "tag")
    // AQE wraps executed subtrees in leaf QueryStageExec nodes, so a
    // plain collect() stops at stage boundaries — unwrap recursively
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def deep(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(deep)) ++ (p match {
        case qs: QueryStageExec => deep(qs.plan)
        case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
        case _ => Nil
      })
    def finalPlan(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      deep(df.queryExecution.executedPlan)
    }
    val merge = AsOfJoinOps.asof(left, right,
      Seq(left("k")), Seq(right("rk")), left("lt"), right("rt"),
      hint = AsOfHint.Merge)
    val m = finalPlan(merge).collectFirst { case e: AsOfJoinExec => e }.get
    assert(m.metrics("numOutputRows").value === 3)
    assert(m.metrics("numMatched").value === 2)
    val bcast = AsOfJoinOps.asof(left, right,
      Seq(left("k")), Seq(right("rk")), left("lt"), right("rt"),
      hint = AsOfHint.Broadcast)
    val b = finalPlan(bcast).collectFirst { case e: BroadcastAsOfJoinExec => e }.get
    assert(b.metrics("numOutputRows").value === 3)
    assert(b.metrics("numMatched").value === 2)
    assert(b.metrics("indexRows").value === 1)
    // the measured memory bill of the boxed index (SizeEstimator walk)
    assert(b.metrics("indexBytes").value > 0,
      "broadcast index size metric not posted")
  }

  test("AQE composes: the node plans adaptively and its shuffles coalesce") {
    // the "composes with the platform" proof bucketing already has:
    // under AQE the custom exec must still plan, and the two
    // EnsureRequirements Exchanges it asks for must participate in
    // runtime partition coalescing — on the tiny sf0.01 fixture the
    // 32 requested shuffle partitions collapse to a handful. Negative
    // control: coalescing off keeps all 32.
    def build(s: org.apache.spark.sql.SparkSession) = {
      import graft.operators.TimeSeriesOps
      val ev = graft.sources.Tables.events(s, sf)
        .select(col("user_id"), col("event_id"), col("event_type"),
          TimeSeriesOps.epochSecExpr("ts").as("es"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("es"))
      val su = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
      AsOfJoinOps.asof(p, su, Seq(p("user_id")), Seq(su("s_uid")),
        p("es"), su("signup_es"), hint = AsOfHint.Merge)
    }
    val a = spark.newSession()
    a.conf.set("spark.sql.shuffle.partitions", "32")
    a.conf.set("spark.sql.adaptive.enabled", "true")
    a.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val out = build(a)
    out.collect() // drive the adaptive plan to its final shape
    val plan = out.queryExecution.executedPlan.toString()
    assert(plan.contains("AsOfJoin"), s"node lost under AQE:\n$plan")
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"the as-of shuffles did not coalesce under AQE:\n$plan")
    assert(out.rdd.getNumPartitions < 32,
      s"post-shuffle partition count did not shrink: ${out.rdd.getNumPartitions}")
    val b = spark.newSession()
    b.conf.set("spark.sql.shuffle.partitions", "32")
    b.conf.set("spark.sql.adaptive.enabled", "true")
    b.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    assert(build(b).rdd.getNumPartitions === 32,
      "negative control: coalescing off should keep all 32 partitions")
  }

  test("randomized property: merge equals the in-JVM reference on arbitrary data") {
    import spark.implicits._
    // 12 seeded trials of random shapes — empty sides, singleton keys,
    // dense histories. Right (key,time) pairs are deduped: with equal
    // composite sort keys the "last wins" tie is not a defined order
    // (asof2's composite-time construction is how callers make ties
    // total), so the property quantifies over well-posed inputs.
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 12) {
      val nKeys = 1 + rnd.nextInt(6)
      val left = (0 until rnd.nextInt(60)).map(i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(30).toLong, i.toLong))
      val right = (0 until rnd.nextInt(60)).map(i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(30).toLong, 1000L + i))
        .groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
      val l = left.toDF("k", "lt", "lid").repartition(1 + rnd.nextInt(5))
      val r = right.toDF("rk", "rt", "rid").repartition(1 + rnd.nextInt(5))
      def got(bcast: Boolean, dir: AsOfDirection) = AsOfJoinOps.asof(l, r,
          Seq(l("k")), Seq(r("rk")), l("lt"), r("rt"), direction = dir,
          hint = if (bcast) AsOfHint.Broadcast else AsOfHint.Merge)
        .select("lid", "rid").collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1L else x.getLong(1)))
        .toMap
      val byKey = right.groupBy(_._1)
      // in-JVM reference for each direction: backward = latest ≤,
      // forward = earliest ≥, nearest = argmin |Δ| with equidistant
      // ties to the backward side (the pinned rule)
      def want(dir: AsOfDirection) = left.map { case (k, t, lid) =>
        val hist = byKey.getOrElse(k, Nil)
        val back = hist.filter(_._2 <= t).sortBy(_._2).lastOption
        val fwd = hist.filter(_._2 >= t).sortBy(_._2).headOption
        lid -> (dir match {
          case AsOfDirection.Backward => back
          case AsOfDirection.Forward => fwd
          case AsOfDirection.Nearest => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (t - b._2 <= f._2 - t) Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        }).map(_._3).getOrElse(-1L)
      }.toMap
      // BOTH physical forms × all three directions must match the
      // reference on every trial
      for (dir <- Seq(AsOfDirection.Backward, AsOfDirection.Forward,
          AsOfDirection.Nearest)) {
        val w = want(dir)
        assert(got(false, dir) === w, s"merge/$dir: trial $trial diverged " +
          s"(seed fixed): nKeys=$nKeys |L|=${left.size} |R|=${right.size}")
        assert(got(true, dir) === w, s"broadcast/$dir: trial $trial diverged " +
          s"(seed fixed): nKeys=$nKeys |L|=${left.size} |R|=${right.size}")
      }
    }
  }

  test("many keys across many partitions: per-user merge is partition-safe") {
    import spark.implicits._
    // 500 users × interleaved purchase/signup times, shuffled input
    // order, 4 shuffle partitions — any cross-key state leak in the
    // merge pass (candidate surviving a key change) shows up here
    val purchases = (0 until 500).flatMap(u =>
      Seq((u.toLong, 100L, s"p${u}_100"), (u.toLong, 50L, s"p${u}_50")))
    val signups = (0 until 500).filter(_ % 3 != 0).flatMap(u =>
      Seq((u.toLong, 40L + u % 7, s"s$u"), (u.toLong, 90L + u % 11, s"t$u")))
    val rng = new scala.util.Random(42)
    val l = spark.createDataset(rng.shuffle(purchases.toVector))
      .toDF("k", "lt", "pid").repartition(13)
    val r = spark.createDataset(rng.shuffle(signups.toVector))
      .toDF("rk", "rt", "sid").repartition(7)
    val got = AsOfJoinOps.asof(l, r, Seq(l("k")), Seq(r("rk")), l("lt"), r("rt"),
        hint = AsOfHint.Merge)
      .select("pid", "sid").collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1)))
      .toMap
    // reference computed driver-side from the same generators
    val byUser = signups.groupBy(_._1)
    val want = purchases.map { case (u, t, pid) =>
      pid -> byUser.getOrElse(u, Nil).filter(_._2 <= t)
        .sortBy(s => (s._2, s._3)).lastOption.map(_._3).orNull
    }.toMap
    assert(got === want)
  }
}
