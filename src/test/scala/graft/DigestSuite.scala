package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Golden-digest guard: every query's sf0.001 result, recomputed through
  * the shared test session (`local[4]`, 4 shuffle partitions — the
  * configuration `digests/` was generated with), must match
  * `digests/sf0.001.tsv` in row count, schema and content hash. A query
  * recorded with hash `-` is unstable across runs and is compared on row
  * count and schema only. An intended output change regenerates the file
  * (`runMain graft.Verify --digest <sfDir> <outFile>`) and says why.
  */
class DigestSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fields(line: String): (String, Array[String]) = {
    val f = line.split("\t", -1)
    f.head -> f.tail
  }

  test("every query matches its committed sf0.001 golden digest") {
    val golden = Files.readAllLines(Paths.get("digests/sf0.001.tsv")).asScala
      .filterNot(_.startsWith("#")).map(fields).toMap
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.toSet == golden.keySet,
      s"queries without a digest: ${names.toSet -- golden.keySet}; " +
        s"digests without a query: ${golden.keySet -- names}")
    val diffs = names.flatMap { name =>
      val want = golden(name)
      val got = fields(Verify.digest(spark, TestSpark.sf0001, name))._2
      val same =
        if (want.length == 3 && want(2) == "-") got.take(2).sameElements(want.take(2))
        else got.sameElements(want)
      if (same) None
      else Some(s"  $name\n    want ${want.mkString(" | ")}\n    got  ${got.mkString(" | ")}")
    }
    assert(diffs.isEmpty, s"${diffs.size} queries differ from digests/sf0.001.tsv:\n" +
      diffs.mkString("\n"))
  }
}
