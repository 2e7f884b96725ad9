package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Temp dirs a spec owns: every [[tempDir]] is deleted recursively after
  * the spec's last test, so a test run leaves no scratch behind. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tempDirs = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]

  def tempDir(prefix: String): java.nio.file.Path = tempDirs.synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.synchronized {
      tempDirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      tempDirs.clear()
    }
}

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"

  /** Run `body` with the given SQL confs set, restoring previous values
    * (or unsetting) after — the shared shape of every plan-evidence spec
    * that has to flip optimizer knobs. */
  def withConfs[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Run `body` with whole-stage codegen and the expression codegen factory
    * disabled, restoring both confs after — the shared half of every custom
    * Expression's codegen/interpreted parity spec. */
  def withInterpretedOnly[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}

object SparkSpec {
  // withExtensions mirrors GraftSession (production parity): it is the only
  // way graft's custom functions reach a session, so no spec registers
  // them itself. The injected ApproxDistinctRule is conf-gated default-OFF,
  // so the default test path is unchanged.
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .withExtensions(new graft.functions.GraftExtensions)
    .getOrCreate()
}
