package graft

import org.apache.spark.sql.functions._

/** Data property behind q_agg_lineitem's money rounding: `floor(x*100 +
  * 0.5)` stands in for `round(x*100)` (see SparkEntry). The two differ for
  * an x*100 just below a .5 boundary, so the swap holds only for the data
  * it runs on — every money column at every scale factor of the test data
  * (TESTDATA.md) is checked here, so a data refresh re-validates it.
  */
class MoneyRoundingSpec extends SparkSpec {

  private val moneyColumns =
    Seq("lineitem" -> "l_quantity", "lineitem" -> "l_extendedprice", "orders" -> "o_totalprice")

  for (sf <- Seq("0.001", "0.01", "0.1"); (table, c) <- moneyColumns)
    test(s"sf$sf $table.$c: floor(x*100 + 0.5) == round(x*100), no negatives") {
      val df = spark.read.parquet(s"/root/testdata/sf$sf/$table.parquet")
      val x = col(c) * 100
      val mismatches =
        df.filter(round(x).cast("long") =!= floor(x + 0.5).cast("long")).count()
      val negatives = df.filter(col(c) < 0).count()
      assert(df.count() > 0)
      assert(mismatches == 0, s"$mismatches rows round differently")
      assert(negatives == 0, s"$negatives negative values")
    }
}
