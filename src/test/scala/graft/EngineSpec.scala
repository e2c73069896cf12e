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

  test("engine code builds sessions only through Engine") {
    // One session recipe: a second SparkSession.builder() in main code
    // runs queries without the extension or the engine's conventions.
    val main = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(main), s"no $main under ${sys.props("user.dir")}")
    val stream = java.nio.file.Files.walk(main)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Engine.scala")
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("SparkSession.builder("))
        .map(main.relativize(_).toString).toVector.sorted
    } finally stream.close()
    assert(offenders.isEmpty, s"SparkSession.builder() outside Engine.scala: $offenders")
  }
}
