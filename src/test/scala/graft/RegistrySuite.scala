package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{QuerySpec, Registry}

class RegistrySuite extends AnyFunSuite {

  test("a registry refuses two specs with the same name") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException] {
      new Registry(Seq(
        QuerySpec("a", build), QuerySpec("b", build, oracleSql = Some("SELECT 1")),
        QuerySpec("a", build, scaleNote = Some("second a"))))
    }
    assert(e.getMessage.contains("declared more than once: a"))
  }
}
