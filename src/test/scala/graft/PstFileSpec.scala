package graft

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.source.pst.{PstCrypt, PstFile}

/** NDB-layer unit checks against the committed Unicode unittest fixture
  * (`fixtures/mailbox/unittest.pst`, PstWriter's re-emission of the
  * ANSI twin; see FIXTURES.md §1).
  */
class PstFileSpec extends AnyFunSuite {

  private val fixture = "fixtures/mailbox/unittest.pst"

  test("decode table is a permutation") {
    assert(PstCrypt.decodeTable.length === 256)
    assert(PstCrypt.decodeTable.sorted.toSeq === (0 until 256))
  }

  test("b-tree point lookups agree with full enumeration for every node") {
    val pst = PstFile.open(fixture, new Configuration())
    try {
      val all = pst.nodes
      assert(all.size === 103)
      all.foreach { case (nid, e) =>
        assert(pst.nodeEntry(nid) === Some(e), s"nid $nid")
      }
      // misses stay misses (between, below, above existing keys)
      assert(pst.nodeEntry(0L).isEmpty)
      assert(pst.nodeEntry(all.keys.max + 2).isEmpty)
      assert(pst.nodeEntry(291L).isEmpty)
    } finally pst.close()
  }

  test("block point lookups resolve every bid referenced by nodes") {
    val pst = PstFile.open(fixture, new Configuration())
    try {
      pst.nodes.values.filter(_.bidData != 0).foreach { e =>
        assert(pst.blockEntry(e.bidData).isDefined, s"bid ${e.bidData}")
        assert(pst.nodeData(e.bidData).nonEmpty, s"data ${e.bidData}")
      }
      assert(pst.blockEntry(1L).isEmpty)
    } finally pst.close()
  }

  test("point-lookup reads stay O(touched pages), not O(index)") {
    val pst = PstFile.open(fixture, new Configuration())
    val afterLookup = try {
      val e = pst.nodeEntry(0x200024L).get // one message, no enumeration
      // header + one b-tree page per level
      assert(pst.bytesRead < 16 * 1024, s"read ${pst.bytesRead} bytes")
      assert(e.nidType === 0x04)
      pst.bytesRead
    } finally pst.close()
    // the fixture's whole NBT fits under 16 KiB too, so that bound alone
    // cannot tell a lookup from an enumeration: compare with one
    val all = PstFile.open(fixture, new Configuration())
    try {
      all.nodes.size
      assert(afterLookup < all.bytesRead,
        s"lookup read $afterLookup bytes, full enumeration ${all.bytesRead}")
    } finally all.close()
  }

  test("ANSI headers parse; garbage ANSI bodies fail cleanly on access") {
    // real ANSI reads are covered by PstAnsiSpec; here, the header
    // branch itself: wVer 14/15 is accepted (ansi=true), and a header
    // with no valid b-trees behind it fails on first index access
    // rather than producing a garbage parse
    import java.nio.file.Files
    val dir = Files.createTempDirectory("pst_ansi")
    for (ver <- Seq(14, 15)) {
      val b = new Array[Byte](600)
      b(0) = '!'; b(1) = 'B'; b(2) = 'D'; b(3) = 'N'
      b(10) = ver.toByte // little-endian u16 wVer, high byte 0
      val p = dir.resolve(s"ansi_$ver.pst")
      Files.write(p, b)
      val pst = PstFile.open(p.toString, new Configuration())
      try {
        assert(pst.ansi)
        assert(pst.wVer === ver)
        intercept[Throwable] { pst.nodes.size }
      } finally pst.close()
    }
    // an unknown version is rejected outright (neither ANSI nor Unicode)
    val b = new Array[Byte](600)
    b(0) = '!'; b(1) = 'B'; b(2) = 'D'; b(3) = 'N'
    b(10) = 19
    val p = dir.resolve("odd.pst")
    Files.write(p, b)
    val e = intercept[IllegalArgumentException] {
      PstFile.open(p.toString, new Configuration())
    }
    assert(e.getMessage.contains("unrecognized"), e.getMessage)
  }

  test("truncation fuzz: every cut point fails cleanly, never hangs") {
    // resilient multi-file bind (A20) depends on corrupt inputs raising
    // promptly: open+enumerate a file truncated at assorted offsets and
    // require either a clean parse (cut past the data we touch) or an
    // exception — within a time budget, with no JVM damage
    import java.nio.file.{Files, Paths}
    val bytes = Files.readAllBytes(Paths.get(fixture))
    val dir = Files.createTempDirectory("pst_fuzz")
    val rnd = new scala.util.Random(42)
    val cuts = Seq(0, 1, 100, 512, 4096, 64 * 1024, bytes.length / 2) ++
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
}
