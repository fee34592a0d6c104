package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Distributed, Wordpiece}

/** Measures the two physical forms of a MaxMatch vocabulary at
  * production piece counts — the round-10 verdict's "measure the
  * typedlit form at 4k/32k and record the bound" companion to the
  * table-held rung (q_wordpiece_encode_xl):
  *
  *  - LITERAL: the trained-tokenizer encode shape ([[Wordpiece
  *    .greedyCount]]) — the vocabulary rides the plan as a `typedlit`
  *    map, each walk step probing it with `element_at` per candidate
  *    length. Correct at toy sizes; at K pieces the literal bloats the
  *    plan/closure and the lookup is a per-probe scan.
  *  - TABLE: the q_wordpiece_encode_xl shape — candidates
  *    substring-explode, the vocabulary joins as data through the size
  *    gate, the walk reads a per-word DATA map.
  *
  * Both forms segment the same derived word population (the XL rung's
  * salted digest words) under the same top-K vocabulary, so wall-clock
  * differences are the form, not the work. Run:
  * `sbt "runMain graft.tools.VocabFormProbe"` (sf0.1 words; K = 4096
  * and 32768; medians of 3 into the noop sink).
  */
object VocabFormProbe {

  private val Lmax = 8

  def main(args: Array[String]): Unit = {
    val cpus = graft.Sessions.cpus
    val spark = graft.Sessions.local(cpus)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // the XL rung's derived word population (4 salted digests per doc)
    val words = graft.Tables.documents(spark, d)
      .select(explode(array((0 until 4).map(k =>
        md5(concat(lit(s"$k|"), col("text")))): _*)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val nWords = words.count()

    def candidates(w: DataFrame): DataFrame = w
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("pos"))
      .select(col("word"), col("freq"), col("pos"),
        explode(when(length(col("word")) - col("pos") + 1 >= 2,
          sequence(lit(2),
            least(lit(Lmax), length(col("word")) - col("pos") + 1)))
          .otherwise(array().cast("array<int>"))).as("l"))
      .select(col("word"), col("freq"), col("pos"), col("l"),
        col("word").substr(col("pos"), col("l")).as("piece"))

    def time(df: => DataFrame): Double = {
      val runs = Vector.fill(3) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      runs.sorted.apply(1)
    }

    println("k,n_words,literal_s,table_s,plan_chars_literal,plan_chars_table")
    for (k <- Seq(4096, 32768)) {
      val vocab = candidates(words)
        .groupBy("piece").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("piece").asc)
        .limit(k).select("piece").localCheckpoint()
      val vRows = vocab.count()

      // LITERAL form: the trained-encode shape — vocabulary collected
      // to the driver and baked into the plan as a typedlit map
      val pieces = vocab.collect().map(_.getString(0) -> 1).toMap
      val lmax = pieces.keys.map(_.length).max
      def literal: DataFrame = words.select(col("word"),
        Wordpiece.greedyCount(col("word"), pieces, lmax).as("np"))
      // one untimed warm run each (codegen/JIT), then median of 3
      literal.write.format("noop").mode("overwrite").save()
      val tLit = time(literal)
      val pLit = literal.queryExecution.executedPlan.toString.length

      // TABLE form: the q_wordpiece_encode_xl shape
      def table: DataFrame = {
        val best = Distributed.modelJoin(
          candidates(words).select("word", "pos", "l", "piece"),
          vocab, vRows, Seq("piece"))
          .groupBy("word", "pos").agg(max(col("l")).as("bl"))
        val wmap = best.groupBy("word")
          .agg(map_from_entries(collect_list(struct(col("pos"), col("bl"))))
            .as("m"))
        words.join(wmap, Seq("word"), "left")
          .select(col("word"), walk(col("word"), col("m")).as("np"))
      }
      table.write.format("noop").mode("overwrite").save()
      val tTab = time(table)
      val pTab = table.queryExecution.executedPlan.toString.length

      // the two forms must segment identically (same greedy rule,
      // same vocabulary) — the probe is invalid otherwise
      val sLit = literal.agg(sum(col("np"))).head().getLong(0)
      val sTab = table.agg(sum(col("np"))).head().getLong(0)
      require(sLit == sTab, s"form mismatch at k=$k: $sLit vs $sTab")

      println(f"$k,$nWords,$tLit%.2f,$tTab%.2f,$pLit,$pTab")
    }
    spark.stop()
  }

  private def walk(w: Column, m: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1).as("pos"), lit(0L).as("np")),
      (acc, _) =>
        when(acc("pos") <= length(w),
          struct(
            (acc("pos") + coalesce(element_at(m, acc("pos")), lit(1)))
              .as("pos"),
            (acc("np") + 1L).as("np")))
          .otherwise(acc),
      acc => acc("np"))
}
