package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.LateMaterialization
import graft.source.{Mailbox, MailboxGen, MailboxIndex}

/** One mailbox scan a query makes; the traced run re-plans it with a
  * direct call to the planner.
  */
final case class Scan(path: String, mode: String,
    options: Map[String, String] = Map.empty, exacts: Seq[String] = Nil)

/** One operation of a pass. A query is timed from construction through
  * its action; an ingest is timed around the write.
  */
sealed trait Op { def name: String }

final case class QueryOp(
    name: String,
    build: () => DataFrame,
    scans: Seq[Scan] = Nil,
    /** an aggregate the mailbox source may answer from its statistics */
    statsAggregate: Boolean = false) extends Op

/** Rewrites one input file in pass `p`: `run(p)` returns a digest of
  * what it wrote, `expected(p)` the digest of the set-up build.
  */
final case class IngestOp(name: String, run: Int => String,
    expected: Int => String) extends Op

trait Workload {
  def name: String
  def ops: Seq[Op]
  /** DuckDB oracle SQL per registry query (the mailbox oracles live in run.py). */
  def oracles: Map[String, String]
  /** Parquet fixture tables the traced run resolves through `graft.Tables`. */
  def tables: Seq[String]
  /** Seconds per input build, one entry per repetition. */
  def inputBuilds: Seq[Double]
  /** Seconds per sidecar index build, over set-up and ingests. */
  def indexBuilds: Seq[Double]
}

object Workloads {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Tier-2 operators of the pipeline workload: pins, shuffle-heavy
    * compute, iterative job chains, construction-heavy curation and
    * sink writes beside reads.
    */
  val PipelineQueries: Seq[String] = Seq(
    "q_setsim_join", "q_kcore", "q_curation_funnel", "q_mad_outliers",
    "q_deletion_vectors", "q_constrained_write", "q_model_artifact_nb",
    "q_stream_merge", "q_hits", "q_ppr_seed", "q_classifier_score",
    "q_hilbert")

  def apply(name: String, spark: SparkSession, data: File, repo: File,
      seed: Long, inputBuilds: Seq[Double]): Workload = name match {
    case "sql" =>
      registry(name, spark, data, inputBuilds,
        SparkEntry.benchQueries.filterNot(_.name.startsWith("q_mailbox_")).map(_.name))
    case "pipeline" =>
      registry(name, spark, data, inputBuilds, PipelineQueries)
    case "mailbox" => new MailboxWorkload(spark, data, repo, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def registry(wname: String, spark: SparkSession, data: File,
      builds: Seq[Double], names: Seq[String]): Workload = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val qs = names.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"no registry query $n")))
    new Workload {
      val name = wname
      val ops: Seq[Op] = qs.map(q => QueryOp(q.name, () => q.fn(spark, data.getPath)))
      val oracles: Map[String, String] = qs.flatMap(q => q.oracle.map(q.name -> _)).toMap
      val tables: Seq[String] = Workloads.Tables
      val inputBuilds: Seq[Double] = builds
      val indexBuilds: Seq[Double] = Nil
    }
  }
}

/** The paper's own surface: a seeded multi-file mailbox corpus mixing
  * sidecar-indexed files, unindexed files and the checked-in PST fixture.
  */
final class MailboxWorkload(spark: SparkSession, dir: File, repo: File,
    seed: Long) extends Workload {
  import MailboxWorkload._

  val name = "mailbox"
  val oracles: Map[String, String] = Map.empty
  val tables: Seq[String] = Nil

  // The seed sets each box's folder count and the start of its message-class
  // rotation. The message count is fixed, so every seed reads as much data.
  private val rng = new scala.util.Random(seed)
  private val boxes: Seq[Box] = (0 until BoxFiles).map { i =>
    Box(f"box$i%02d.mbx", 4 + rng.nextInt(12), MessagesPerFile, rng.nextInt(8),
      i < IndexedFiles)
  }

  private val indexTimes = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def writeBoxAndIndex(b: Box): File = {
    val f = new File(dir, b.name)
    MailboxGen.writeFile(f, MailboxGen.syntheticLines(b.folders, b.messages, b.classOffset),
      writeIndex = false)
    if (b.indexed) {
      val t0 = System.nanoTime()
      MailboxIndex.writeLocal(f)
      indexTimes += (System.nanoTime() - t0) / 1e9
    }
    f
  }

  /** Builds the corpus `InputBuilds` times (each replaces the last). */
  val inputBuilds: Seq[Double] = (0 until InputBuilds).map { _ =>
    val t0 = System.nanoTime()
    dir.mkdirs()
    boxes.foreach(writeBoxAndIndex)
    Files.copy(new File(repo, PstFixture).toPath, new File(dir, "unittest_ansi.pst").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    (System.nanoTime() - t0) / 1e9
  }

  def indexBuilds: Seq[Double] = indexTimes.toSeq

  private val indexed = boxes.filter(_.indexed)
  private def boxOf(pass: Int) =
    indexed(new scala.util.Random(seed * 31 + pass).nextInt(indexed.length))
  /** box name, size and sidecar CRC */
  private def digest(b: Box): String = {
    val f   = new File(dir, b.name)
    val crc = new java.util.zip.CRC32
    crc.update(Files.readAllBytes(new File(f.getPath + ".idx").toPath))
    s"${b.name}:${f.length}:${crc.getValue}"
  }
  private val built: Map[String, String] = indexed.map(b => b.name -> digest(b)).toMap

  private val mbx = new File(dir, "*.mbx").getPath
  private val idx = new File(dir, indexed.map(_.name).mkString("{", ",", "}")).getPath
  private val all = new File(dir, "*.{mbx,pst}").getPath
  private val one = new File(dir, boxes.head.name).getPath

  /** Depth of every folder below the root: the folder-tree walk as an
    * iterative frontier loop over pinned (`localCheckpoint`) frames, as
    * the reference's recursive-CTE walk runs on Spark. The root's
    * self-loop is skipped.
    */
  private def folderWalk(path: String): DataFrame = {
    val tree = Mailbox.folders(spark, path)
      .select(col("node_id"), col("parent_node_id")).localCheckpoint()
    val root = tree.filter(col("node_id") === col("parent_node_id"))
      .select(col("node_id"), lit(0).as("depth"))
    var result   = root
    var frontier = root
    while (!frontier.isEmpty) {
      frontier = tree.as("t")
        .join(broadcast(frontier.select(col("node_id").as("f"), col("depth"))),
          col("t.parent_node_id") === col("f"))
        .filter(col("t.node_id") =!= col("t.parent_node_id"))
        .select(col("t.node_id").as("node_id"), (col("depth") + 1).as("depth"))
        .localCheckpoint()
      result = result.union(frontier)
    }
    result.orderBy("node_id")
  }

  private def q(n: String, scans: Scan*)(f: => DataFrame): QueryOp =
    QueryOp(n, () => f, scans)

  val ops: Seq[Op] = Seq(
    q("mb_count", Scan(all, "messages"))(
      Mailbox.messages(spark, all).agg(count(lit(1)).as("cnt"))
    ).copy(statsAggregate = true),
    q("mb_class_hist", Scan(idx, "messages"))(
      Mailbox.messages(spark, idx).groupBy("message_class")
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("message_class").asc)
    ).copy(statsAggregate = true),
    q("mb_full_scan", Scan(mbx, "messages"))(Mailbox.messages(spark, mbx)),
    q("mb_topic_agg", Scan(mbx, "messages"))(
      Mailbox.messages(spark, mbx).groupBy("conversation_topic")
        .agg(count(lit(1)).as("n"), sum(col("message_size")).as("total_size"))
        .orderBy("conversation_topic")
    ),
    q("mb_notes", Scan(mbx, "notes"))(
      Mailbox.notes(spark, mbx).select("node_id", "subject", "sender_name")
        .orderBy("node_id", "subject")
    ),
    q("mb_contacts", Scan(all, "contacts"))(
      Mailbox.contacts(spark, all).select("given_name", "surname")
        .orderBy("given_name", "surname")
    ),
    q("mb_read_limit", Scan(mbx, "messages", Map("read_limit" -> ReadLimit.toString)))(
      Mailbox.messages(spark, mbx, Map("read_limit" -> ReadLimit.toString))
        .agg(count(lit(1)).as("cnt"))
    ),
    q("mb_class_eq", Scan(mbx, "messages", exacts = Seq("IPM.Task")))(
      Mailbox.messages(spark, mbx).filter(col("message_class") === "IPM.Task")
        .select("node_id", "subject", "message_size")
        .orderBy("node_id", "subject")
    ),
    q("mb_latemat",
      Scan(one, "messages", Map("virtual_columns" -> "true")),
      Scan(one, "messages", Map("virtual_columns" -> "true")))(
      LateMaterialization.filterSortLimit(spark, one, "messages", "subject",
        c => c.like("Synthetic message 1%"), LateMatK)
        .select("node_id", "subject", "message_size")
    ),
    // the reference's COPY-to-parquet export: a sink write, read back
    q("mb_export", Scan(idx, "messages"))({
      val out = new File(dir.getParentFile, "export").getPath
      Mailbox.messages(spark, idx)
        .select("node_id", "message_class", "subject", "conversation_topic", "message_size")
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }),
    q("mb_folder_walk", Scan(one, "folders"))(folderWalk(one)),
    q("mb_folders", Scan(all, "folders"))(
      Mailbox.folders(spark, all).groupBy("container_class")
        .agg(count(lit(1)).as("n")).orderBy("container_class")
    ),
    // rewrites one indexed box with its own content and rebuilds its
    // sidecar, so writes run beside the reads
    IngestOp("mb_ingest", pass => { val b = boxOf(pass); writeBoxAndIndex(b); digest(b) },
      pass => built(boxOf(pass).name))
  )
}

object MailboxWorkload {
  /** One generated box: `MailboxGen.syntheticLines` parameters, and
    * whether it gets a sidecar index.
    */
  final case class Box(name: String, folders: Int, messages: Int,
      classOffset: Int, indexed: Boolean)

  val BoxFiles        = 8
  val IndexedFiles    = 6
  val MessagesPerFile = 2500
  val InputBuilds     = 3
  val ReadLimit       = 1000
  val LateMatK        = 20
  val PstFixture      = "fixtures/mailbox/unittest_ansi.pst"
}
