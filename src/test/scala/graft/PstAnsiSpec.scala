package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

import graft.source.pst.{PstFile, PstWriter}

/** ANSI (pre-Outlook-2003, wVer 14/15, 32-bit) PST format support.
  *
  * The repository holds the unittest mailbox twice, as a pair that
  * PstWriter converts into each other bit-for-bit:
  * `fixtures/mailbox/unittest_ansi.pst` (ANSI, the root of provenance)
  * and `fixtures/mailbox/unittest.pst` (Unicode, re-emitted from it).
  * These tests convert the committed Unicode file to ANSI afresh and
  * require the ANSI branch of the reader to reproduce the Unicode parse
  * exactly: same nodes, same bytes, same DataFrames through every scan
  * mode; and they hold both committed files equal to a fresh
  * conversion of the other.
  */
class PstAnsiSpec extends AnyFunSuite with SessionSuite {

  private val unicodeFixture = "fixtures/mailbox/unittest.pst"
  private val committedAnsi  = "fixtures/mailbox/unittest_ansi.pst"

  private def fresh(src: String, name: String, ansi: Boolean): String = {
    val dir = Files.createTempDirectory("pst_ansi_rt")
    val p = dir.resolve(name).toString
    PstWriter.convert(src, p, ansi)
    p
  }
  private lazy val freshAnsi: String =
    fresh(unicodeFixture, "unittest_ansi.pst", ansi = true)
  private lazy val freshUnicode: String =
    fresh(committedAnsi, "unittest.pst", ansi = false)

  private def sameBytes(a: String, b: String): Boolean =
    java.util.Arrays.equals(Files.readAllBytes(java.nio.file.Paths.get(a)),
      Files.readAllBytes(java.nio.file.Paths.get(b)))

  test("converted file parses as ANSI and the NDB content is byte-identical") {
    val u = PstFile.open(unicodeFixture, new Configuration())
    val a = PstFile.open(freshAnsi, new Configuration())
    try {
      assert(!u.ansi && a.ansi)
      assert(a.wVer === 15)
      assert(a.cryptMethod === u.cryptMethod)
      val un = u.nodes; val an = a.nodes
      assert(an.keySet === un.keySet)
      assert(an.size === 103)
      un.foreach { case (nid, ue) =>
        val ae = an(nid)
        assert(ae.nidParent === ue.nidParent, s"parent of $nid")
        // node data bytes AND leaf-block boundaries (the heap layer
        // addresses blocks by index, so boundaries are load-bearing)
        assert(java.util.Arrays.equals(a.nodeData(ae.bidData), u.nodeData(ue.bidData)),
          s"data of $nid")
        assert(a.dataBlocks(ae.bidData).map(_.length) ===
               u.dataBlocks(ue.bidData).map(_.length), s"leaf boundaries of $nid")
        // subnode trees: same nid sets, same data, recursively
        def cmp(ubs: Long, abs: Long, path: String): Unit = {
          val us = if (ubs == 0) Map.empty[Long, (Long, Long)] else u.subnodes(ubs)
          val as = if (abs == 0) Map.empty[Long, (Long, Long)] else a.subnodes(abs)
          assert(as.keySet === us.keySet, s"subnodes at $path")
          us.foreach { case (snid, (ubd, ubsub)) =>
            val (abd, absub) = as(snid)
            assert(java.util.Arrays.equals(a.nodeData(abd), u.nodeData(ubd)),
              s"subnode data $path/$snid")
            cmp(ubsub, absub, s"$path/$snid")
          }
        }
        cmp(ue.bidSub, ae.bidSub, s"nid $nid")
      }
    } finally { u.close(); a.close() }
  }

  test("ANSI point lookups work and stay O(touched pages)") {
    val a = PstFile.open(freshAnsi, new Configuration())
    try {
      val all = a.nodes
      all.foreach { case (nid, e) => assert(a.nodeEntry(nid) === Some(e), s"nid $nid") }
      assert(a.nodeEntry(0L).isEmpty)
      assert(a.nodeEntry(all.keys.max + 2).isEmpty)
    } finally a.close()
    // fresh handle: one message lookup must not enumerate the index
    val b = PstFile.open(freshAnsi, new Configuration())
    val lookupBytes = try {
      val e = b.nodeEntry(0x200024L).get
      assert(e.nidType === 0x04)
      assert(b.bytesRead < 16 * 1024, s"read ${b.bytesRead} bytes")
      b.bytesRead
    } finally b.close()
    // the whole ANSI index fits under 16 KiB, so that bound alone cannot
    // tell a lookup from an enumeration: compare with a full NBT walk
    val c = PstFile.open(freshAnsi, new Configuration())
    try {
      c.nodes.size
      assert(lookupBytes < c.bytesRead,
        s"lookup read $lookupBytes bytes, full enumeration ${c.bytesRead}")
    } finally c.close()
  }

  private def normalized(path: String, mode: String) = {
    val df = spark.read.format("mailbox").option("mode", mode).load(path)
      .drop("pst_path", "pst_name")
    val cols = df.schema.fields.map { f =>
      if (f.dataType == BinaryType) hex(col(f.name)).as(f.name)
      else col(f.name).cast("string").as(f.name)
    }
    df.select(cols.toSeq: _*).collect().map(_.mkString("|")).sorted.toSeq
  }

  test("every scan mode returns identical rows for ANSI and Unicode") {
    val modes = Seq("folders", "messages", "notes", "contacts",
      "appointments", "sticky_notes", "tasks", "distribution_lists")
    modes.foreach { m =>
      val u = normalized(unicodeFixture, m)
      val a = normalized(freshAnsi, m)
      assert(a === u, s"mode $m")
      assert(u.nonEmpty, s"mode $m empty")
    }
  }

  test("the committed ANSI fixture matches a fresh conversion bit-for-bit") {
    // guards fixtures/mailbox/unittest_ansi.pst going stale relative to
    // PstWriter (the q_pst_ansi_* registry queries read it)
    assert(sameBytes(committedAnsi, freshAnsi))
  }

  test("the committed Unicode fixture matches a fresh conversion bit-for-bit") {
    // the inverse guard: fixtures/mailbox/unittest.pst is PstWriter's
    // Unicode re-emission of the committed ANSI fixture (the q_pst_*
    // registry queries and the PST specs read it)
    assert(sameBytes(unicodeFixture, freshUnicode))
  }

  test("ANSI truncation fuzz: every cut point fails cleanly, never hangs") {
    // mirror of PstFileSpec's Unicode fuzz over the ANSI twin: opening
    // and enumerating a file truncated at assorted offsets must either
    // parse cleanly (cut past the touched data) or raise promptly
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(freshAnsi))
    val dir = Files.createTempDirectory("pst_ansi_fuzz")
    val rnd = new scala.util.Random(43)
    val cuts = Seq(0, 1, 100, 511, 512, 4096, 64 * 1024, bytes.length / 2) ++
      (0 until 10).map(_ => 1 + rnd.nextInt(bytes.length - 1))
    for (cut <- cuts) {
      val p = dir.resolve(s"cut_$cut.pst")
      Files.write(p, bytes.take(cut).toArray)
      val started = System.nanoTime()
      try {
        val pst = PstFile.open(p.toString, new Configuration())
        try pst.nodes.size // force full NBT/BBT enumeration
        finally pst.close()
      } catch {
        case _: Throwable => () // clean failure is the contract
      }
      val elapsedMs = (System.nanoTime() - started) / 1000000
      assert(elapsedMs < 10000, s"cut=$cut took ${elapsedMs}ms")
    }
  }

  test("a glob mixing ANSI and Unicode PSTs binds and reads both") {
    val dir = Files.createTempDirectory("pst_mixed")
    Files.copy(java.nio.file.Paths.get(unicodeFixture), dir.resolve("u.pst"))
    Files.copy(java.nio.file.Paths.get(freshAnsi), dir.resolve("a.pst"))
    val df = spark.read.format("mailbox").option("mode", "messages")
      .load(s"$dir/*.pst")
    assert(df.count() === 24) // 12 messages from each format
    assert(df.select("pst_path").distinct().count() === 2)
  }
}
