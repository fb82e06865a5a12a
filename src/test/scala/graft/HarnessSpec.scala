package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The shared entry-point harness: the `SPARK_GRAFT_EXTRA_CONF` parser,
  * and the one-session-recipe rule that keeps the mains' confs from
  * drifting apart again. */
class HarnessSpec extends AnyFunSuite {

  test("extra-conf parser: trailing ';', whitespace, '=' inside a value") {
    assert(Harness.parseExtraConf(
      "  spark.sql.shuffle.partitions=8 ;\tspark.graft.x=a=b; ;") ==
      Seq("spark.sql.shuffle.partitions" -> "8", "spark.graft.x" -> "a=b"))
    assert(Harness.parseExtraConf("k=v;") == Seq("k" -> "v"))
    assert(Harness.parseExtraConf("").isEmpty)
  }

  test("extra-conf parser: a token without '=' is a named error") {
    val e = intercept[RuntimeException](Harness.parseExtraConf("a=1;oops"))
    assert(e.getMessage == "SPARK_GRAFT_EXTRA_CONF entry without '=': 'oops'")
  }

  test("SparkSession.builder appears in src/main only inside Harness.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val files = Files.walk(root)
    val builders =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map((p: Path) => p.getFileName.toString).toSet
      finally files.close()
    assert(builders == Set("Harness.scala"))
  }
}
