package graft

import org.scalatest.funsuite.AnyFunSuite

/** Settings census (the CollectAuditSpec discipline applied to
  * configuration): every environment variable and system property that
  * `src/main` and `build.sbt` read is collected from comment-stripped
  * source. The environment keys must be exactly the keys of README's
  * "Settings" table, and the only system properties read are the
  * JVM-standard ones — a setting that changes a plan or a result is a
  * parameter, so a spec passes it instead of mutating a global property.
  * Every read must name its key as a string literal, or the census could
  * not see it.
  */
class SettingsCensusSpec extends AnyFunSuite {

  private val JvmStandardProps = Set("user.dir", "java.io.tmpdir")

  private def sources(): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    } finally s.close()
  } :+ java.nio.file.Paths.get("build.sbt")

  private def stripComments(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", " ")

  private lazy val code: Seq[(String, String)] = sources().map { p =>
    p.toString -> stripComments(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
  }

  /** Keys read through `access` (`sys.env.get("K")`, `sys.env("K")`,
    * `System.getenv("K")`, …), plus the files where `access` appears
    * without a literal key. */
  private def census(access: String): (Set[String], Seq[String]) = {
    val any = s"(?:$access)".r
    val keyed = ("(?:" + access + ")(?:\\.\\w+)?\\(\\s*\"([^\"]+)\"").r
    val keys = code.flatMap { case (_, src) =>
      keyed.findAllMatchIn(src).map(_.group(1)) }.toSet
    val unkeyed = code.collect { case (f, src)
      if any.findAllIn(src).size != keyed.findAllIn(src).size => f }
    (keys, unkeyed)
  }

  private lazy val (envKeys, envUnkeyed) =
    census("sys\\.env|System\\.getenv")
  private lazy val (propKeys, propUnkeyed) =
    census("sys\\.props|System\\.getProperty|System\\.getProperties")

  /** First-column keys of the README "## Settings" table. */
  private lazy val readmeKeys: Set[String] = {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val section = readme.split("\n## ").find(_.startsWith("Settings"))
      .getOrElse(fail("README.md has no '## Settings' section"))
    "(?m)^\\| `([^`]+)` \\|".r.findAllMatchIn(section).map(_.group(1)).toSet
  }

  test("every environment key read in src/main and build.sbt is in the README Settings table, and only those") {
    assert(envUnkeyed.isEmpty,
      s"environment read without a literal key in ${envUnkeyed.mkString(", ")}")
    info(s"${envKeys.size} environment keys: ${envKeys.toSeq.sorted.mkString(", ")}")
    assert((envKeys -- readmeKeys).isEmpty,
      s"read but not in the README Settings table: ${(envKeys -- readmeKeys).mkString(", ")}")
    assert((readmeKeys -- envKeys).isEmpty,
      s"in the README Settings table but never read: ${(readmeKeys -- envKeys).mkString(", ")}")
  }

  test("src/main and build.sbt read only JVM-standard system properties") {
    assert(propKeys.subsetOf(JvmStandardProps),
      s"non-standard system properties read: ${(propKeys -- JvmStandardProps).mkString(", ")} " +
        "— make the setting a parameter instead")
    assert(propUnkeyed.isEmpty,
      s"system property read without a literal key in ${propUnkeyed.mkString(", ")}")
  }
}
