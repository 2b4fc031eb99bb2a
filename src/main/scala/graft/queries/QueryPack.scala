package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named bundle of driver-checkable queries: each key has a Spark
  * implementation and (when SQL-expressible) a DuckDB oracle that must
  * produce identical rows on the same parquet tables.
  *
  * Conventions that keep the oracle hash-compare byte-stable:
  *  - every integer output column is INT64 on both sides (Spark `.cast("long")`,
  *    DuckDB `CAST(... AS BIGINT)` — DuckDB's sum(BIGINT) is HUGEINT otherwise);
  *  - double aggregates are `round(x, 4..6)` on both sides (partial-agg
  *    ordering differences live far below 1e-6 for these magnitudes);
  *  - `LIMIT k` queries always carry a total tie-break order;
  *  - timestamps are never emitted raw (year/month/day parts only — the
  *    parquet files are ns-precision, Spark reads µs).
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
