package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The gate registry's shape: every gate carries its own oracle, a name
  * cannot be registered twice, and a family (`SPARK_GRAFT_ONLY`'s unit)
  * lives in one catalog file. No Spark session: nothing here runs a gate. */
class GateCatalogSpec extends AnyFunSuite {

  test("378 gates, and the derived maps hold the same names") {
    assert(Gates.all.size == 378)
    // indexed here first: a duplicate fails this test by name instead of
    // failing SparkEntry's initializer, which would abort the suite
    assert(Gates.byName(Gates.all).size == 378)
    assert(SparkEntry.queries.size == 378)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("a duplicate name fails the derivation and is named") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val gates = Seq(Gate("a1_x", build, "SELECT 1"), Gate("b1_y", build, "SELECT 2"),
      Gate("a1_x", build, "SELECT 3"))
    val e = intercept[IllegalArgumentException](Gates.byName(gates))
    assert(e.getMessage.contains("a1_x"))
    assert(!e.getMessage.contains("b1_y"))
  }

  test("every family lives in exactly one catalog") {
    val homes = for {
      c <- Gates.catalogs
      g <- c.gates
    } yield g.name.takeWhile(_.isLetter) -> c.getClass.getSimpleName
    val split = homes.groupBy(_._1).collect {
      case (family, hs) if hs.map(_._2).distinct.size > 1 => family -> hs.map(_._2).distinct
    }
    assert(split.isEmpty, s"families split across catalogs: $split")
  }

  test("no oracle is blank") {
    val blank = Gates.all.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }
}
