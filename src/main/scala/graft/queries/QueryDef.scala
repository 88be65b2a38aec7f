package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-verifiable query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL over
  * the same parquet tables. Column names must match exactly between the two
  * (the driver sorts columns by name before hashing values).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Tables {

  /** Load a driver-provided parquet table from the scale-factor dir.
    *
    * `fanout = true` requests scale-adaptive scan fan-out (optimization
    * guide §2.5 "input skew" + §6 input-split sizing): the test SF dirs
    * are single small parquet files with one row group, so a bare scan
    * yields ONE input partition — Spark cannot split inside a row group —
    * and every per-row expression chain runs on one core of the local[N]
    * session (measured: q19b's shingle projection alone was 1.7 s
    * single-task at sf0.1). When the table's file bytes cannot fill the
    * session's default parallelism at maxPartitionBytes granularity (the
    * scan is provably narrower than the cluster), round-robin repartition
    * to defaultParallelism — a sub-MB local shuffle that unlocks all
    * cores. At production scale the condition is false (bytes >>
    * cores * maxPartitionBytes gives a naturally parallel scan) and the
    * scan is returned untouched: partitioning is derived from input size,
    * not a local[32] constant.
    *
    * Fan-out is opt-IN per call site because it costs one extra exchange:
    * a matched-window A/B over the scan->shuffle-immediate queries
    * (OPTIMIZATION_r06.md §1) measured the blanket form LOSING 0.2-0.8 s per
    * query (q10 0.31->1.07 s, q08 0.60->1.46 s, q24 0.57->1.11 s — the
    * per-row work those scans feed is trivial, so the added exchange is
    * pure overhead), while the heavy-chain queries (shingle/minhash/
    * feature/cosine families) win seconds. Callers whose scan feeds an
    * expensive per-row chain or a pair join pass fanout = true.
    *
    * Round-robin keeps results identical — every declared query's output
    * is row-order-deterministic and the driver hashes sorted rows — and
    * Spark's sort-before-repartition keeps the assignment reproducible
    * under task retry.
    */
  def load(
      spark: SparkSession,
      sfDir: String,
      name: String,
      fanout: Boolean = false): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.parquet(path)
    if (!fanout) return df
    val cores = spark.sparkContext.defaultParallelism
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sessionState.newHadoopConf()).getContentSummary(p).getLength
      } catch { case _: java.io.IOException => Long.MaxValue }
    val maxPartitionBytes = spark.sessionState.conf.filesMaxPartitionBytes
    if (bytes < maxPartitionBytes * cores) df.repartition(cores) else df
  }
}
