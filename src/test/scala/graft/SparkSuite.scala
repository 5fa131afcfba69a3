package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs, from the production factory on 4
  * cores — one per suite, lazily created. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("graft-spec", 4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
