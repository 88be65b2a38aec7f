package graft.erbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks the shape of the `dedup_hot` input from the generated rows alone
  * (no pipeline code): for each seed given, some conversation text is
  * shared by more than 1600 conversations (the ultra-hot tier), some by
  * more than 200 and at most 1600 (the salted tier), and the labels hold
  * at least 100k true duplicate pairs. Exit code 1 on any failure.
  *
  *   HotGenCheck <seed>...
  */
object HotGenCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("hotgen-check")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val shape = Workloads.HotShape
    val failures = args.toSeq.map(_.toLong).flatMap { seed =>
      val turns = HotGen.turns(spark, shape, seed)
      // a conversation's text up to casing, punctuation and spacing
      val texts = turns.groupBy("conv_id").agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("turn_idx"), col("text")))),
          t => t.getField("text"))).as("text"))
        .select(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("norm"))
      val sizes = texts.groupBy("norm").count().select("count").collect().map(_.getLong(0))
      val nConvs = texts.count()
      val truePairs = HotGen.labels(spark, shape).groupBy("correct_conv_id").count()
        .select(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0).toLong
      val ultra = sizes.count(_ > 1600)
      val salted = sizes.count(n => n > 200 && n <= 1600)
      println(s"seed $seed: $nConvs conversations, largest shared text ${sizes.max}, " +
        s"$ultra texts above 1600, $salted in (200, 1600], $truePairs true duplicate pairs")
      Seq(
        (nConvs != shape.nConvs) -> s"seed $seed: $nConvs conversations, expected ${shape.nConvs}",
        (ultra == 0) -> s"seed $seed: no text shared by more than 1600 conversations",
        (salted == 0) -> s"seed $seed: no text shared by 201 to 1600 conversations",
        (truePairs < 100000) -> s"seed $seed: only $truePairs true duplicate pairs"
      ).collect { case (true, m) => m }
    }
    // the same seed must give the same rows
    val a = HotGen.turns(spark, shape, 7L)
    val b = HotGen.turns(spark, shape, 7L)
    val nondeterministic = a.exceptAll(b).count() + b.exceptAll(a).count()
    val all = failures ++ (if (nondeterministic != 0) Seq("seed 7 gave two different corpora") else Nil)
    all.foreach(m => println("FAILED: " + m))
    spark.stop()
    sys.exit(if (all.isEmpty) 0 else 1)
  }
}
