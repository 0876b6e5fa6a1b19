package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** User-facing constructor for the native as-of join. Columns must be
  * resolved against the two input frames (`df.col("x")` / `df("x")`),
  * so the logical node is built fully resolved — no dependence on
  * name-based analyzer resolution, and duplicate names across sides
  * are the caller's choice to keep or rename.
  *
  * The planner strategy, the optimizer rules and the `asof_join` TVF
  * are installed by `GraftExtensions` when the session is built
  * (`GraftSession.build`, or `spark.sql.extensions` on a cluster).
  */
object AsOfJoinOps {

  /** `tolerance`: maximum allowed |leftTime − matchTime| gap, pandas
    * merge_asof-style — a neighbor farther than the bound yields
    * nulls.
    *
    * `direction`: pandas merge_asof's triple — Backward (default,
    * latest at-or-before), Forward (earliest at-or-after), Nearest
    * (closest in absolute distance; equidistant ties go BACKWARD, the
    * pinned rule). All three run natively in both physical forms.
    *
    * EQUAL-TIME determinism: when several right rows share (key,
    * time), which one wins is undefined — it follows physical order
    * (shuffle-sort vs broadcast-index), which is not stable across
    * runs or forms. Make the time column a total order when that
    * matters (see the composite-time pattern in StatOps.asofJoinPayload).
    *
    * Self-as-of is safe: when the right plan shares attributes with
    * the left (both sides descend from the SAME DataFrame — "join
    * each event to the latest earlier event of its user" is the
    * natural first query), the right side is re-aliased to fresh
    * exprIds and the right-side key/time expressions are remapped —
    * the same dedup Spark's own `Join` gets from `newInstance()`.
    * Right-side expressions are interpreted against the RIGHT side by
    * parameter position, which is the only coherent reading when the
    * two sides share attribute ids.
    *
    * `hint`: physical-form choice. The default [[AsOfHint.Auto]] is
    * stats-driven — the planner broadcasts the right side exactly when
    * its logical stats clear `spark.sql.autoBroadcastJoinThreshold`,
    * the same decision Spark's JoinSelection makes for equi-joins
    * (threshold −1 disables). [[AsOfHint.Broadcast]] forces the
    * shuffle-free probe form (the caller's in-memory size assertion,
    * like `broadcast()`); [[AsOfHint.Merge]] forces the co-partitioned
    * merge (like a MERGE join hint). Broadcast is worth it exactly
    * when the right side is small relative to the left (the left then
    * never shuffles); for comparably-sized sides the merge form wins.
    *
    * MIGRATION NOTE (round 12): the default changed from the forced
    * merge form to [[AsOfHint.Auto]]. A caller whose right side's
    * size-only logical stats fall under `autoBroadcastJoinThreshold`
    * now has that side COLLECTED TO THE DRIVER without any code
    * change — the same driver-memory exposure Spark's own
    * JoinSelection carries for equi-joins near the threshold
    * (size-only stats under-count wide/boxed rows). Callers near the
    * threshold who relied on the old never-broadcast behavior should
    * pin [[AsOfHint.Merge]] explicitly; `threshold = -1` on the
    * session disables auto-broadcast globally. This trade is the
    * intended JoinSelection-parity design, not an accident.
    */
  def asof(left: DataFrame, right: DataFrame,
           leftKeys: Seq[Column], rightKeys: Seq[Column],
           leftTime: Column, rightTime: Column,
           tolerance: Option[Long] = None,
           direction: AsOfDirection = AsOfDirection.Backward,
           hint: AsOfHint = AsOfHint.Auto): DataFrame = {
    val spark = left.sparkSession
    // computed Columns (e.g. -df("t")) arrive from the Spark 4
    // column-node API as UnresolvedFunction stubs that no analyzer
    // rule will visit inside a custom node — reject them with a
    // usable message instead of a NullType failure at execution
    def typed(c: Column, what: String) = {
      val e = Bridge.expression(c)
      require(e.resolved &&
        e.dataType != org.apache.spark.sql.types.NullType,
        s"asof: $what must reference a materialized column " +
          s"(df(name), or withColumn the expression first); got: $e")
      e
    }
    val lPlan = left.queryExecution.analyzed
    var rPlan = right.queryExecution.analyzed
    var rKeys = rightKeys.map(typed(_, "right key"))
    var rTime = typed(rightTime, "right time")
    if (lPlan.outputSet.intersect(rPlan.outputSet).nonEmpty) {
      val aliases = rPlan.output.map(a => Alias(a, a.name)())
      val mapping = AttributeMap(rPlan.output.zip(aliases.map(_.toAttribute)))
      rPlan = Project(aliases, rPlan)
      def remap(e: Expression): Expression =
        e.transform { case a: Attribute => mapping.getOrElse(a, a) }
      rKeys = rKeys.map(remap)
      rTime = remap(rTime)
    }
    val node = AsOfJoin(
      lPlan,
      rPlan,
      leftKeys.map(typed(_, "left key")),
      rKeys,
      typed(leftTime, "left time"),
      rTime,
      tolerance,
      direction,
      hint)
    Bridge.ofRows(spark, node)
  }

  /** Hot-key mitigation for the MERGE form — the salting pattern the
    * exec's skew note points at, packaged so the semantics stay
    * correct: like sort-merge join, a single very hot as-of key lands
    * every one of its left rows in ONE partition. This wrapper
    *
    *  - assigns each LEFT row a salt in [0, salts) — a hash of the
    *    KEY and TIME columns only: any assignment is correct (each
    *    left row's result is independent of its neighbors), hashing
    *    keeps it deterministic under task retries, and restricting
    *    the hash to the join columns keeps the wrapper usable on wide
    *    fact rows whose payload carries unhashable (map) or
    *    duplicate-named columns. Consequence: left rows sharing an
    *    identical (key, time) share a salt — a key hot at ONE
    *    repeated timestamp does not split (distinct timestamps, the
    *    real fact-stream shape, do),
    *  - REPLICATES the right side across all `salts` values
    *    (`explode`), so every (key, salt) partition carries the key's
    *    FULL history,
    *  - joins as-of on (keys… :+ salt) and drops the salt.
    *
    * The trade is the classic one: `salts`× the right side's shuffle
    * volume buys `salts`× parallelism on the hot left key — worth it
    * exactly when the left dominates (the 100 TB fact-stream case
    * where the right is history, not bulk). When the right side is
    * outright SMALL, prefer the broadcast form instead (zero shuffle,
    * no replication); this exists for the middle regime: right too
    * big to broadcast, left hot-keyed. Forced `hint = Merge` — salting
    * a broadcast join would only replicate the index for nothing.
    * AsOfJoinSpec pins value-equality with the unsalted operator and
    * the max-partition-shrink on a deliberately hot key.
    */
  def asofSalted(left: DataFrame, right: DataFrame,
                 leftKeys: Seq[Column], rightKeys: Seq[Column],
                 leftTime: Column, rightTime: Column,
                 salts: Int,
                 tolerance: Option[Long] = None,
                 direction: AsOfDirection = AsOfDirection.Backward): DataFrame = {
    require(salts > 1, s"asofSalted needs salts > 1 (got $salts); " +
      "use asof() directly when not splitting")
    import org.apache.spark.sql.functions.{explode, lit, pmod, xxhash64}
    val saltCol = "__graft_asof_salt"
    require(!left.columns.contains(saltCol) && !right.columns.contains(saltCol),
      s"asofSalted: input already has a '$saltCol' column — rename it first " +
        "(withColumn would silently overwrite it and corrupt the join keys)")
    val l = left.withColumn(saltCol,
      pmod(xxhash64((leftKeys :+ leftTime): _*), lit(salts.toLong)).cast("int"))
    val r = right.withColumn(saltCol,
      explode(lit((0 until salts).toArray)))
    // the caller's columns resolve unchanged against l/r: withColumn/
    // explode project over the same child, preserving attribute ids
    val out = asof(l, r,
      leftKeys :+ l(saltCol), rightKeys :+ r(saltCol),
      leftTime, rightTime,
      tolerance, direction, AsOfHint.Merge)
    // drop BOTH salt columns (left's and the replicated right's)
    out.drop(saltCol)
  }

  /** SQL surface for the operator, as a table-valued function:
    *
    *   SELECT * FROM asof_join('purchases', 'signups',
    *                           'user_id:s_uid', 'es', 'signup_es')
    *   SELECT * FROM asof_join('l', 'r', 'k', 'lt', 'rt', 150000)
    *
    * Arguments: left table/view name, right table/view name, equi-key
    * spec (comma-separated; each entry `name` for a same-named key or
    * `lname:rname` when the sides differ), left time column, right
    * time column, then trailing options in any order: an integer
    * tolerance (same unit as the time columns), a physical-form hint
    * ('broadcast'/'merge'; omitted = stats-driven Auto), a direction
    * ('forward'/'nearest'; omitted = backward), and 'salt:N' for the
    * hot-key salted merge ([[asofSalted]]). All name arguments
    * are string literals —
    * they're resolved through the session catalog exactly like
    * `spark.table`, so temp views, catalog tables and bucketed tables
    * all work, and the TVF inherits the Scala API's whole contract
    * (null-key SQL semantics, self-as-of dedup, pruning rules).
    *
    * Deployment: `GraftExtensions` registers it at session build
    * (`spark.sql.extensions=graft.GraftExtensions` on a cluster).
    */
  private[graft] def buildFromSql(exprs: Seq[Expression]): LogicalPlan = {
    val usage = "asof_join('left', 'right', 'key[:rkey][,key2…]', " +
      "'left_time', 'right_time'[, tolerance][, 'broadcast'|'merge']" +
      "[, 'forward'|'nearest'][, 'salt:N'])"
    require(exprs.length >= 5 && exprs.length <= 9,
      s"asof_join expects 5 to 9 arguments: $usage; got ${exprs.length}")
    def str(i: Int, what: String): String = exprs(i) match {
      case Literal(v, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"asof_join: $what must be a string literal ($usage); got $other")
    }
    // trailing options, in any order: an integer tolerance, a
    // physical-form hint ('broadcast' size assertion / 'merge'
    // never-broadcast — omitted means stats-driven Auto, like every
    // other join), and a direction ('forward' / 'nearest' — omitted
    // means backward). Duplicates and contradictions error — a
    // repeated option silently last-winning would hide a caller's
    // mistake.
    var tolerance: Option[Long] = None
    var hint: Option[AsOfHint] = None
    var dir: Option[AsOfDirection] = None
    var salt: Option[Int] = None
    def setTol(v: Long): Unit = {
      require(tolerance.isEmpty,
        s"asof_join: tolerance given twice ($usage)")
      tolerance = Some(v)
    }
    def setHint(h: AsOfHint, word: String): Unit = {
      require(hint.isEmpty,
        s"asof_join: physical-form hint given twice ('$word'; $usage)")
      hint = Some(h)
    }
    def setDir(d: AsOfDirection, word: String): Unit = {
      require(dir.isEmpty,
        s"asof_join: direction given twice ('$word'; $usage)")
      dir = Some(d)
    }
    exprs.drop(5).foreach {
      case Literal(v: Long, LongType) => setTol(v)
      case Literal(v: Int, IntegerType) => setTol(v.toLong)
      case Literal(v, StringType) if v != null =>
        v.toString.toLowerCase(java.util.Locale.ROOT) match {
          case w @ "broadcast" => setHint(AsOfHint.Broadcast, w)
          case w @ "merge" => setHint(AsOfHint.Merge, w)
          case w @ "forward" => setDir(AsOfDirection.Forward, w)
          case w @ "nearest" => setDir(AsOfDirection.Nearest, w)
          case w if w.startsWith("salt:") =>
            require(salt.isEmpty, s"asof_join: 'salt:N' given twice ($usage)")
            val n = try w.stripPrefix("salt:").toInt catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"asof_join: bad salt count in '$w' ($usage)")
            }
            require(n > 1, s"asof_join: 'salt:N' needs N > 1 ($usage); got $n")
            salt = Some(n)
          case other => throw new IllegalArgumentException(
            s"asof_join: unknown option '$other' ($usage)")
        }
      case other => throw new IllegalArgumentException(
        s"asof_join: trailing options must be an integer tolerance, " +
          s"'broadcast'/'merge', or 'forward'/'nearest' ($usage); got $other")
    }
    // TVF builders run inside analysis with the active session in
    // scope; resolving through spark.table + the Scala constructor
    // (instead of hand-building UnresolvedRelation/Attribute trees)
    // reuses the hardened path — self-as-of dedup, computed-column
    // rejection — and hands the analyzer an already-resolved subtree.
    val spark = SparkSession.active
    val l = spark.table(str(0, "left table"))
    val r = spark.table(str(1, "right table"))
    val keyPairs = str(2, "key spec").split(',').map(_.trim).filter(_.nonEmpty)
      .map { k =>
        // split with limit -1 keeps trailing empties, so 'k:' (a
        // mistyped right-side name) errors instead of silently
        // becoming a same-named key
        k.split(":", -1).map(_.trim) match {
          case Array(both) if both.nonEmpty => (both, both)
          case Array(lk, rk) if lk.nonEmpty && rk.nonEmpty => (lk, rk)
          case _ => throw new IllegalArgumentException(
            s"asof_join: bad key entry '$k' ($usage)")
        }
      }.toSeq
    require(keyPairs.nonEmpty, s"asof_join: empty key spec ($usage)")
    val lk = keyPairs.map(p => l(p._1))
    val rk = keyPairs.map(p => r(p._2))
    val (lt, rt) = (l(str(3, "left time")), r(str(4, "right time")))
    val direction = dir.getOrElse(AsOfDirection.Backward)
    val out = salt match {
      case Some(n) =>
        // salted path: forces the merge form (salting a broadcast
        // would replicate the index for nothing), so an explicit
        // 'broadcast' hint contradicts it
        require(!hint.contains(AsOfHint.Broadcast),
          s"asof_join: 'salt:N' implies the merge form — drop 'broadcast' ($usage)")
        asofSalted(l, r, lk, rk, lt, rt, n, tolerance, direction)
      case None =>
        asof(l, r, lk, rk, lt, rt, tolerance, direction,
          hint.getOrElse(AsOfHint.Auto))
    }
    out.queryExecution.analyzed
  }
}
