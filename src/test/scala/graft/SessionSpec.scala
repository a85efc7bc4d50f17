package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  test("bench, verify, job and test sessions agree on every semantic key") {
    assert(Session.semantic("spark.sql.session.timeZone") == "UTC")
    // Verify and JobRunner build with no extra conf; Bench and the
    // test session add their own on top.
    val roles = Map("bench" -> Session.conf(Bench.conf), "verify/job" -> Session.conf(),
      "test" -> Session.conf(SharedSpark.conf))
    for ((role, conf) <- roles; (k, v) <- Session.semantic)
      assert(conf.get(k).contains(v), s"$role session sets $k=${conf.get(k)}, want $v")
    val live = SharedSpark.spark.conf
    for ((k, v) <- Session.semantic)
      assert(live.getOption(k).contains(v), s"live test session has $k=${live.getOption(k)}, want $v")
  }

  test("a master preset by spark-submit is kept") {
    val preset = new SparkConf(false).set("spark.master", "spark://cluster:7077")
    assert(Session.conf(preset = preset)("spark.master") == "spark://cluster:7077")
  }

  test("with no preset master the session runs local[cores], one shuffle partition per core") {
    val conf = Session.conf(preset = new SparkConf(false))
    assert(conf("spark.master") == s"local[${Session.cores}]")
    assert(conf("spark.sql.shuffle.partitions") == Session.cores.toString)
  }

  test("src: sessions are built only in Session.scala") {
    import scala.jdk.CollectionConverters._
    val handBuilt = """SparkSession\s*\.\s*builder""".r
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.iterator().asScala.toList.filter(_.toString.endsWith(".scala")) finally s.close()
    }.filterNot(_ == java.nio.file.Paths.get("src/main/scala/graft/Session.scala")).filter { f =>
      handBuilt.findFirstIn(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")).nonEmpty
    }
    assert(offenders.isEmpty, s"build sessions through graft.Session, not by hand: ${offenders.mkString(", ")}")
  }
}
