package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ScalableWindows must equal the direct keyed window BIT-EXACTLY on any
  * chunk width — that is its whole contract (the chunked form exists for
  * skew-bounded task work, not different semantics). Checked on a skewed
  * key distribution (one key holding most rows — the crawl shape the
  * helper defends against) across degenerate (single-chunk), fine
  * (chunk-per-row), and mid widths. */
class ScalableWindowsSpec extends SparkSuite {
  import spark.implicits._

  // 1 dominant key (70% of rows) + a tail; ids sparse and non-contiguous
  // so chunk boundaries fall mid-key; deterministic value mix
  private lazy val df = {
    val rows = (0 until 997).map { i =>
      val key = if (i % 10 < 7) "big" else s"k${i % 10}"
      val id = i.toLong * 7 + (i % 3) // sparse, strictly increasing
      (id, key, (i * 2654435761L % 97) - 11)
    }
    rows.toDF("id", "key", "v")
  }

  private val widths = Seq(1L, 64L, 100000L)

  test("exclusivePrefixSum equals the direct window at every chunk width") {
    val w = Window.partitionBy($"key").orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val direct = df.withColumn("pre", coalesce(sum($"v").over(w), lit(0L)))
      .select($"id", $"key", $"pre")
    for (cw <- widths) {
      val chunked = ScalableWindows
        .exclusivePrefixSum(df, Seq("key"), "id", col("v"), "pre", cw)
        .select($"id", $"key", $"pre")
      assert(chunked.except(direct).isEmpty && direct.except(chunked).isEmpty,
        s"prefix sums diverge at chunkWidth=$cw")
    }
  }

  test("keyedRowNumber equals the direct window at every chunk width") {
    val w = Window.partitionBy($"key").orderBy($"id", $"v")
    val direct = df.withColumn("pos", row_number().over(w))
      .select($"id", $"key", $"pos")
    for (cw <- widths) {
      val chunked = ScalableWindows
        .keyedRowNumber(df, Seq("key"), Seq("id", "v"), "pos", cw)
        .select($"id", $"key", $"pos")
      assert(chunked.except(direct).isEmpty && direct.except(chunked).isEmpty,
        s"row numbers diverge at chunkWidth=$cw")
    }
  }

  test("row count and schema are preserved") {
    val out = ScalableWindows
      .exclusivePrefixSum(df, Seq("key"), "id", col("v"), "pre", 64L)
    assert(out.count() === df.count())
    assert(out.columns.toSet === Set("id", "key", "v", "pre"))
  }

  test("shuffled-join fallback (carry over the broadcast bound) is bit-equal") {
    // maxBroadcastCarryRows=0 forces the over-bound path: the carry join
    // must fall back to the planner's shuffled join and still reproduce
    // the direct window exactly — the scale-safety path the broadcast
    // guard exists for (r19 ADVICE: an unconditional hint would force a
    // driver-breaking broadcast at toy widths over huge inputs)
    val w = Window.partitionBy($"key").orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val direct = df.withColumn("pre", coalesce(sum($"v").over(w), lit(0L)))
      .select($"id", $"key", $"pre")
    val fallback = ScalableWindows
      .exclusivePrefixSum(df, Seq("key"), "id", col("v"), "pre", 64L,
        maxBroadcastCarryRows = 0L)
      .select($"id", $"key", $"pre")
    assert(fallback.except(direct).isEmpty && direct.except(fallback).isEmpty)
    val wrn = Window.partitionBy($"key").orderBy($"id", $"v")
    val directRn = df.withColumn("pos", row_number().over(wrn))
      .select($"id", $"key", $"pos")
    val fallbackRn = ScalableWindows
      .keyedRowNumber(df, Seq("key"), Seq("id", "v"), "pos", 64L,
        maxBroadcastCarryRows = 0L)
      .select($"id", $"key", $"pos")
    assert(fallbackRn.except(directRn).isEmpty && directRn.except(fallbackRn).isEmpty)
  }

  test("persists are registered for release with CacheRegistry") {
    spark.catalog.clearCache()
    val out = ScalableWindows
      .exclusivePrefixSum(df, Seq("key"), "id", col("v"), "pre", 64L)
    out.write.format("noop").mode("overwrite").save()
    // the chunked input + the carry table are cached after a run...
    assert(!spark.sharedState.cacheManager.isEmpty)
    // ...and a library caller (no harness clearCache) can release them
    graft.core.CacheRegistry.unpersistAll()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("GRAFT_MAX_BROADCAST_CARRY_ROWS parses a row count, else fails with a directed error") {
    assert(ScalableWindows.parseMaxBroadcastCarryRows(None) == 2000000L)
    assert(ScalableWindows.parseMaxBroadcastCarryRows(Some(" 5000 ")) == 5000L)
    assert(ScalableWindows.parseMaxBroadcastCarryRows(Some("0")) == 0L)
    for (bad <- Seq("2M", "-1", "", "1e6", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException] {
        ScalableWindows.parseMaxBroadcastCarryRows(Some(bad))
      }
      assert(e.getMessage.contains(s"GRAFT_MAX_BROADCAST_CARRY_ROWS='$bad'"), e.getMessage)
      assert(e.getMessage.contains("non-negative integer"), e.getMessage)
    }
  }
}
