package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession

/** Engine.local: the library front door wires the extension and the
  * engine's session conventions. Same fresh-session discipline as
  * SelectorExtensionSpec: clear active/default so the builder makes a
  * new SparkSession over the shared context, and never stop() it.
  */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Engine.local(2)
  }

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("local session has AQE, UTC, and the selector extension") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    // matches_selector resolves as a SQL function (extension-injected,
    // not session-registered).
    import spark.implicits._
    val df = Seq(Map("app" -> "nginx", "env" -> "prod")).toDF("labels")
    val n = df
      .filter("matches_selector(labels, 'app=nginx, env in (prod, stage)')")
      .count()
    assert(n == 1)
  }

  /** Main-source files under `dir`, other than `except`, whose text
    * contains any of `needles`, relative to src/main/scala. */
  private def mentioning(dir: java.nio.file.Path, except: String,
      needles: String*): Vector[String] =
    matching(dir, except, needles.map(n => java.util.regex.Pattern.quote(n).r): _*)

  /** [[mentioning]] with regular expressions for needles. */
  private def matching(dir: java.nio.file.Path, except: String,
      needles: scala.util.matching.Regex*): Vector[String] = {
    val main = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(dir), s"no $dir under ${sys.props("user.dir")}")
    val stream = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != except)
        .filter { p =>
          val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          needles.exists(_.findFirstIn(text).isDefined)
        }
        .map(main.relativize(_).toString).toVector.sorted
    } finally stream.close()
  }

  test("engine code builds sessions only through Engine") {
    // One session recipe: a second SparkSession.builder() in main code
    // runs queries without the extension or the engine's conventions.
    val offenders = mentioning(java.nio.file.Paths.get("src", "main", "scala"),
      "Engine.scala", "SparkSession.builder(")
    assert(offenders.isEmpty, s"SparkSession.builder() outside Engine.scala: $offenders")
  }

  test("queries take scratch directories only from StreamOps.privateRoot") {
    // A fixed temp path is shared by every run of a query, in this JVM
    // and in any other: a second run deletes the files that the first
    // run's lazily read frame still lists.
    val offenders = mentioning(
      java.nio.file.Paths.get("src", "main", "scala", "graft", "queries"),
      "StreamOps.scala", "java.io.tmpdir", "\"/tmp", "createTempDirectory")
    assert(offenders.isEmpty, s"temp paths outside StreamOps.privateRoot: $offenders")
  }

  test("engine code lists files without located statuses") {
    // A located status copies each file's permission, and Hadoop's
    // local store without native IO reads a permission by forking
    // `ls -ld`: one process per listed file. Walk with listStatus.
    // Hadoop's listFiles takes (path, recursive); java.io.File's
    // listFiles takes at most one argument and does not match.
    val offenders = matching(java.nio.file.Paths.get("src", "main", "scala"), "",
      "listLocatedStatus".r, """\blistFiles\((?:[^()]|\([^()]*\))*,""".r)
    assert(offenders.isEmpty, s"located-status listings in main code: $offenders")
  }
}
