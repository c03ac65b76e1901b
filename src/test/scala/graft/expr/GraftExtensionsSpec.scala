package graft.expr

import graft.SparkTestBase
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** SQL surface of the extension-registered native expressions. */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {

  test("wrong arity is an analysis error, not a silent drop or index crash") {
    // 3-arg call to a 2-arg function: previously children(2) was silently
    // DROPPED (the call "worked" on the first two args); 0-arg call:
    // previously IndexOutOfBoundsException from children.head
    for (sql <- Seq(
        "SELECT l2sq_int(array(1L), array(1L), array(1L))",
        "SELECT splitmix64()",
        "SELECT cosine_sim(array(1.0d))")) {
      val e = intercept[AnalysisException](spark.sql(sql).collect())
      assert(e.getMessage.contains("requires"), s"$sql -> ${e.getMessage}")
    }
  }
}
