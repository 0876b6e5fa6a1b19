package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must install the custom functions into a fresh
  * session so `spark.sql("SELECT cosine_sim(...)")` works with zero
  * per-session registration calls.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions installs cosine_sim and dot_product for SQL") {
    // getOrCreate silently reuses an existing session and ignores
    // withExtensions — stop any session left by earlier suites so the
    // extension path is genuinely exercised (suites run sequentially,
    // and later suites' getOrCreate will simply build a fresh session).
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("extensions-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = spark.sql(
        """SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
                  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""").head()
      assert(r.getDouble(0) === 1.0)
      assert(r.getDouble(1) === 11.0)
      // the bounded-heap aggregate, straight from SQL: top-2 ids by score
      val t = spark.sql(
        """SELECT topk_by_score(s, id, 2) AS ids FROM VALUES
             (1.0d, 10L), (3.0d, 30L), (2.0d, 20L) AS t(s, id)""").head()
      assert(t.getSeq[Long](0) === Seq(30L, 20L))
      // bounded min-k string aggregate from SQL: 2 smallest, duplicates kept
      val m = spark.sql(
        """SELECT min_k_strings(v, 2) AS vs FROM VALUES
             ('b'), ('a'), ('c'), ('a') AS t(v)""").head()
      assert(m.getSeq[String](0) === Seq("a", "a"))
      // the KMV/theta sketch aggregate from pure SQL: distinct min-k
      // of hashes, and the whole sketch tier is then plain SQL — the
      // k-th element IS theta. 3 distinct values under k=8 → exact
      // mode: the retained set is xxhash64 of all three, sorted.
      val kmv = spark.sql(
        """SELECT min_k_distinct_longs(xxhash64(v), 8) AS sk FROM VALUES
             (10L), (20L), (10L), (30L), (20L) AS t(v)""").head()
      val expectedHashes = spark.sql(
        """SELECT sort_array(collect_set(xxhash64(v))) FROM VALUES
             (10L), (20L), (30L) AS t(v)""").head().getSeq[Long](0)
      assert(kmv.getSeq[Long](0) === expectedHashes,
        "SQL-built KMV sketch diverged from the distinct hash set")
      // the as-of TVF installs with the extensions too (zero
      // per-session registration): latest at-or-before per key
      import spark.implicits._
      Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "c"))
        .toDF("k", "lt", "lid").createOrReplaceTempView("ext_asof_l")
      Seq((1L, 5L, "r5"), (1L, 15L, "r15"))
        .toDF("rk", "rt", "tag").createOrReplaceTempView("ext_asof_r")
      val a = spark.sql(
        """SELECT lid, tag FROM asof_join('ext_asof_l', 'ext_asof_r',
             'k:rk', 'lt', 'rt') ORDER BY lid""").collect()
        .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
        .toMap
      assert(a === Map("a" -> "r5", "b" -> "r15", "c" -> null))
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("GraftSession.build refuses a running session without GraftExtensions") {
    // getOrCreate hands back the running session and ignores
    // withExtensions; build must say so rather than return a session
    // whose SQL functions, as-of TVF and rules are missing
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val bare = SparkSession.builder()
      .master("local[2]")
      .appName("bare-session-spec")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val e = intercept[IllegalStateException](GraftSession.build("after-bare", "2"))
      assert(e.getMessage.contains("GraftExtensions"), e.getMessage)
    } finally {
      bare.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
