package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.network.util.JavaUtils
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** What a caller can set from outside the program, and what the
  * session sets for them. A setting that only ever has one value is a
  * constant, so a new env var or system property has to be added here
  * on purpose.
  */
class SettingsSpec extends AnyFunSuite {

  test("env and system-property knobs read by src/main are FROZEN") {
    val allowed = Set(
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_ITERS", "SPARK_GRAFT_SF_DIR",
      "GRAFT_REPO_ROOT", "graft.repo.root", "GRAFT_ITER_LOG")
    val read = """(sys\.env|sys\.props|System\.getenv|System\.getProperty)""".r
    val keyed = ("""(?:sys\.env|sys\.props|System\.getenv|System\.getProperty)""" +
      """(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([^"]+)"""").r
    val sources = {
      val walk = Files.walk(Paths.get("src/main"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val keys = sources.flatMap { (f: Path) =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val literal = keyed.findAllMatchIn(text).toList
      // a computed key would slip past the freeze unseen
      assert(literal.size === read.findAllMatchIn(text).size,
        s"$f reads an env var or property whose name is not a string literal")
      literal.map(_.group(1))
    }.toSet.filterNot(_.startsWith("java.")) // JVM properties (java.io.tmpdir) are not knobs
    assert(keys === allowed,
      s"knob set changed — new: ${keys -- allowed}, gone: ${allowed -- keys}")
  }

  test("session: shuffle partitions = cores; AQE partition sizes are Spark's defaults") {
    val spark = GraftSession.build("settings-spec", "4")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    def bytes(key: String) = JavaUtils.byteStringAsBytes(spark.conf.get(key))
    assert(bytes("spark.sql.adaptive.advisoryPartitionSizeInBytes") === (64L << 20))
    assert(bytes("spark.sql.adaptive.coalescePartitions.minPartitionSize") === (1L << 20))
  }
}
