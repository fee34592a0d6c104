package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CuratePipeline

class CuratePipelineSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  test("curation pipeline filters monotonically and writes a partitioned corpus") {
    val out = Files.createTempDirectory("curated").toFile.getPath
    val (curated, stats) = CuratePipeline.curate(spark, sf, Some(out))

    assert(stats.nInput === 500L)
    assert(stats.nAfterQuality <= stats.nInput)
    assert(stats.nAfterRepetition <= stats.nAfterQuality)
    assert(stats.nAfterExactDedup <= stats.nAfterRepetition)
    assert(stats.nAfterNearDedup <= stats.nAfterExactDedup)
    assert(stats.nAfterLanguage <= stats.nAfterNearDedup)
    assert(stats.nAfterTokens <= stats.nAfterLanguage)
    assert(stats.nCurated <= stats.nAfterTokens)
    assert(stats.nCurated > 0, s"pipeline emptied the corpus: $stats")

    // written corpus is readable, partitioned by lang, and matches
    val back = spark.read.parquet(out)
    assert(back.count() === stats.nCurated)
    assert(back.columns.contains("quality") && back.columns.contains("n_tokens"))
    val prunedPlan = back.filter(col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters"), prunedPlan)
  }
}
