package graft.source.pst

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration

/** Test-side PST re-emitter between the two NDB on-disk formats.
  *
  * It reads a PST with [[PstFile]] and writes the file's complete
  * logical NDB content (every node, its data-block leaf sequence, its
  * subnode tree, the header's rgnid counters and bCryptMethod) in the
  * Unicode or the ANSI layout of the public MS-PST specification. The
  * two layouts differ only in widths and offsets ([[Layout]]): 64- vs
  * 32-bit BIDs/IBs, 16- vs 12-byte block trailers, 488- vs 496-byte
  * BTPAGE entry regions, NBT/BBT/BTENTRY sizes, XBLOCK/SLBLOCK entry
  * widths (Unicode SLBLOCKs carry a 4-byte dwPadding), and the header.
  * Leaf data-block boundaries are preserved exactly (the heap-on-node
  * layer addresses blocks by index), so the LTP/messaging layers read
  * back bit-identically.
  *
  * Both directions run the same traversal (nodes sorted by nid, a
  * node's data before its subnode tree, subnode entries sorted by nid,
  * everything memoized by source bid) and allocate BIDs in that order,
  * so a round trip yields the same BIDs and the same bytes:
  * `fixtures/mailbox/unittest.pst` (Unicode) re-emits the committed
  * `fixtures/mailbox/unittest_ansi.pst` bit-for-bit, and the reverse.
  *
  * Trailers carry honest checksums: the spec's CRC (raw CRC-32,
  * polynomial 0xEDB88320, init 0, no final complement) and the
  * block/page signature word sig(ib, bid). Allocation maps are not
  * emitted; the header marks them invalid (fAMapValid = 0), which
  * readers must treat as "rebuild before trusting" per the spec.
  *
  * Not part of the shipped library: PST *write* support is out of
  * scope (the reference is read-only too). This exists solely to
  * manufacture the two committed unittest fixtures read by the PST
  * specs and the `q_pst_*` registry queries.
  */
object PstWriter {

  /** Format-dependent widths and offsets (MS-PST §2.2.2). */
  private final class Layout(val ansi: Boolean) {
    val w: Int            = if (ansi) 4 else 8     // BID / IB
    val blockTrailer: Int = if (ansi) 12 else 16
    val pageEntries: Int  = if (ansi) 496 else 488 // rgentries
    val pageTrailer: Int  = if (ansi) 500 else 496 // ptype offset
    val nbtEnt: Int       = if (ansi) 16 else 32
    val bbtEnt: Int       = if (ansi) 12 else 24
    val btEnt: Int        = if (ansi) 12 else 24
    val slBase: Int       = if (ansi) 4 else 8     // Unicode: dwPadding
    val headerSize: Int   = if (ansi) 512 else 564
    val maxBlockData: Int = 8192 - blockTrailer
  }

  /** Inverse of the NDB_CRYPT_PERMUTE decode table. */
  private lazy val encodeTable: Array[Byte] = {
    val enc = new Array[Byte](256)
    var i = 0
    while (i < 256) { enc(PstCrypt.decodeTable(i)) = i.toByte; i += 1 }
    enc
  }

  private def encodePermute(data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](data.length)
    var i = 0
    while (i < data.length) { out(i) = encodeTable(data(i) & 0xFF); i += 1 }
    out
  }

  // raw CRC-32: poly 0xEDB88320, init 0, no final xor (MS-PST §5.3)
  private lazy val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i
      var k = 0
      while (k < 8) { c = (c >>> 1) ^ (if ((c & 1) != 0) 0xEDB88320 else 0); k += 1 }
      t(i) = c; i += 1
    }
    t
  }

  private def crc(d: Array[Byte], from: Int, len: Int): Int = {
    var c = 0
    var i = from
    while (i < from + len) { c = crcTable((c ^ d(i)) & 0xFF) ^ (c >>> 8); i += 1 }
    c
  }

  /** Block/page signature word (MS-PST §5.5). */
  private def sig(ib: Long, bid: Long): Int = {
    val x = ib ^ bid
    (((x >> 16) ^ x) & 0xFFFF).toInt
  }

  private def put16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
  }
  private def putN(b: Array[Byte], o: Int, v: Long, n: Int): Unit = {
    var i = 0
    while (i < n) { b(o + i) = (v >> (8 * i)).toByte; i += 1 }
  }
  private def put32(b: Array[Byte], o: Int, v: Long): Unit = putN(b, o, v, 4)

  private final case class Blk(bid: Long, stored: Array[Byte])

  /** Re-emit `src` (either format) at `dst` in the ANSI layout when
    * `ansi`, else in the Unicode layout.
    */
  def convert(src: String, dst: String, ansi: Boolean): Unit = {
    val pst = PstFile.open(src, new Configuration())
    try write(pst, dst, new Layout(ansi))
    finally pst.close()
  }

  private def write(pst: PstFile, dst: String, L: Layout): Unit = {
    import L._
    def putRef(b: Array[Byte], o: Int, v: Long): Unit = putN(b, o, v, w)

    val blocks = mutable.ArrayBuffer[Blk]()
    var nextBid = 4L
    def addBlock(internal: Boolean, stored: Array[Byte]): Long = {
      require(stored.length <= maxBlockData,
        s"block of ${stored.length} bytes exceeds ${maxBlockData}")
      val bid = nextBid | (if (internal) 2L else 0L)
      nextBid += 4
      blocks += Blk(bid, stored)
      bid
    }

    def putLeaf(decoded: Array[Byte]): Long =
      addBlock(internal = false,
        if (pst.cryptMethod == 1) encodePermute(decoded) else decoded)

    // memoized per source bid: files share blocks across nodes
    val dataMemo = mutable.HashMap[Long, Long]()
    val subMemo  = mutable.HashMap[Long, Long]()

    /** Data tree → same leaf sequence, one-level XBLOCK if >1 leaf
      * (1021 Unicode / 2043 ANSI leaves, ≈ 8 / 16 MiB of data; deeper
      * trees cannot arise from a fixture this size).
      */
    def convData(bidSrc: Long): Long =
      if (bidSrc == 0) 0L
      else dataMemo.getOrElseUpdate(bidSrc, {
        val leaves = pst.dataBlocks(bidSrc)
        if (leaves.isEmpty) 0L
        else if (leaves.length == 1) putLeaf(leaves.head)
        else {
          val kids = leaves.map(putLeaf)
          val d = new Array[Byte](8 + w * kids.length)
          d(0) = 1; d(1) = 1 // btype=XBLOCK, cLevel=1
          put16(d, 2, kids.length)
          put32(d, 4, leaves.map(_.length.toLong).sum) // lcbTotal
          kids.zipWithIndex.foreach { case (k, i) => putRef(d, 8 + w * i, k) }
          addBlock(internal = true, d)
        }
      })

    /** Subnode tree → one flat SLBLOCK, entries (nid, bidData, bidSub)
      * sorted by nid at the format's field width.
      */
    def convSub(bidSrc: Long): Long =
      if (bidSrc == 0) 0L
      else subMemo.getOrElseUpdate(bidSrc, {
        val entries = pst.subnodes(bidSrc).toSeq.sortBy(_._1).map {
          case (nid, (bd, bs)) => (nid, convData(bd), convSub(bs))
        }
        if (entries.isEmpty) 0L
        else {
          val d = new Array[Byte](slBase + 3 * w * entries.length)
          d(0) = 2; d(1) = 0 // btype=SLBLOCK, cLevel=0
          put16(d, 2, entries.length)
          entries.zipWithIndex.foreach { case ((nid, bd, bs), i) =>
            val o = slBase + 3 * w * i
            putRef(d, o, nid); putRef(d, o + w, bd); putRef(d, o + 2 * w, bs)
          }
          addBlock(internal = true, d)
        }
      })

    val newNodes = pst.nodes.values.toSeq.sortBy(_.nid).map { e =>
      (e.nid, convData(e.bidData), convSub(e.bidSub), e.nidParent)
    }

    // ── physical layout: header | blocks (64-aligned) | pages (512) ──
    var off = ((headerSize + 63) / 64) * 64L
    val placedBlocks = blocks.map { blk =>
      val slot = ((blk.stored.length + blockTrailer + 63) / 64) * 64
      val p = (blk, off, slot); off += slot; p
    }
    val pagesStart = ((off + 511) / 512) * 512

    // b-tree pages, built bottom-up so child ibs are known; page bids
    // continue the block sequence
    val pages = mutable.ArrayBuffer[(Long, Long, Array[Byte], Int)]() // (ib, bid, body, ptype)
    def addPage(entries: Seq[Array[Byte]], cbEnt: Int, cLevel: Int, ptype: Int): (Long, Long) = {
      val body = new Array[Byte](pageTrailer)
      entries.zipWithIndex.foreach { case (e, i) =>
        System.arraycopy(e, 0, body, i * cbEnt, cbEnt)
      }
      body(pageEntries) = entries.length.toByte
      body(pageEntries + 1) = (pageEntries / cbEnt).toByte // cEntMax
      body(pageEntries + 2) = cbEnt.toByte
      body(pageEntries + 3) = cLevel.toByte
      val ib = pagesStart + 512L * pages.length
      val bid = nextBid + 4L * pages.length
      pages += ((ib, bid, body, ptype))
      (bid, ib)
    }

    /** Build one b-tree over sorted leaf entries (btkey = first BID-width
      * bytes of each entry); returns the root BREF.
      */
    def buildTree(leafEntries: Seq[Array[Byte]], cbEnt: Int, ptype: Int): (Long, Long) = {
      var level = leafEntries.grouped(pageEntries / cbEnt).toSeq.map { grp =>
        val (bid, ib) = addPage(grp, cbEnt, 0, ptype)
        (grp.head.take(w), bid, ib) // (first key, page bid, page ib)
      }
      var cLevel = 1
      while (level.length > 1) {
        level = level.grouped(pageEntries / btEnt).toSeq.map { grp =>
          val ents = grp.map { case (key, bid, ib) =>
            val e = new Array[Byte](btEnt)
            System.arraycopy(key, 0, e, 0, w)
            putRef(e, w, bid); putRef(e, 2 * w, ib)
            e
          }
          val (bid, ib) = addPage(ents, btEnt, cLevel, ptype)
          (grp.head._1, bid, ib)
        }
        cLevel += 1
      }
      (level.head._2, level.head._3)
    }

    val bbtEntries = placedBlocks.map { case (blk, ib, _) =>
      val e = new Array[Byte](bbtEnt)
      putRef(e, 0, blk.bid); putRef(e, w, ib)
      put16(e, 2 * w, blk.stored.length); put16(e, 2 * w + 2, 2) // cb, cRef
      e
    }.toSeq
    val nbtEntries = newNodes.map { case (nid, bd, bs, parent) =>
      val e = new Array[Byte](nbtEnt)
      putRef(e, 0, nid); putRef(e, w, bd); putRef(e, 2 * w, bs)
      put32(e, 3 * w, parent)
      e
    }
    val (bbtBid, bbtIb) = buildTree(bbtEntries, bbtEnt, 0x80)
    val (nbtBid, nbtIb) = buildTree(nbtEntries, nbtEnt, 0x81)
    val nextPageBid = nextBid + 4L * pages.length

    val fileEof = pagesStart + 512L * pages.length
    val out = new Array[Byte](fileEof.toInt)

    // ── header (MS-PST §2.2.2.6) ─────────────────────────────────────
    out(0) = '!'; out(1) = 'B'; out(2) = 'D'; out(3) = 'N'
    out(8) = 'S'; out(9) = 'M'                // wMagicClient
    put16(out, 10, if (ansi) 15 else 23)      // wVer
    put16(out, 12, if (ansi) 12 else 19)      // wVerClient
    out(14) = 1; out(15) = 1                  // bPlatformCreate/Access
    // rgnid[32]: the source's allocation counters verbatim (128 bytes)
    if (ansi) {
      put32(out, 24, nextBid)                 // bidNextB
      put32(out, 28, nextPageBid)             // bidNextP
      put32(out, 32, 1L)                      // dwUnique
      System.arraycopy(pst.rgnid, 0, out, 36, 128)
      // ROOT @164
      put32(out, 168, fileEof)                // ibFileEof
      put32(out, 172, 0L)                     // ibAMapLast (maps absent)
      put32(out, 184, nbtBid); put32(out, 188, nbtIb)
      put32(out, 192, bbtBid); put32(out, 196, bbtIb)
      out(200) = 0                            // fAMapValid
      java.util.Arrays.fill(out, 204, 460, 0xFF.toByte) // rgbFM + rgbFP
      out(460) = 0x80.toByte                  // bSentinel
      out(461) = pst.cryptMethod.toByte
    } else {
      putN(out, 32, nextPageBid, 8)           // bidNextP (bidUnused @24)
      put32(out, 40, 1L)                      // dwUnique
      System.arraycopy(pst.rgnid, 0, out, 44, 128)
      // ROOT @180
      putN(out, 184, fileEof, 8)              // ibFileEof
      putN(out, 192, 0L, 8)                   // ibAMapLast (maps absent)
      putN(out, 216, nbtBid, 8); putN(out, 224, nbtIb, 8)
      putN(out, 232, bbtBid, 8); putN(out, 240, bbtIb, 8)
      out(248) = 0                            // fAMapValid
      java.util.Arrays.fill(out, 256, 512, 0xFF.toByte) // rgbFM + rgbFP
      out(512) = 0x80.toByte                  // bSentinel
      out(513) = pst.cryptMethod.toByte
      putN(out, 516, nextBid, 8)              // bidNextB
      put32(out, 524, crc(out, 8, 516))       // dwCRCFull
    }
    put32(out, 4, crc(out, 8, 471))           // dwCRCPartial

    // ── blocks: stored bytes + trailer at slot end ───────────────────
    // (cb, wSig, dwCRC, bid) at 2/2/4/BID-width bytes. MS-PST puts the
    // ANSI bid before dwCRC; the committed ANSI fixture was written in
    // this order (PstFile never reads block trailers), and changing it
    // means regenerating both fixtures together.
    placedBlocks.foreach { case (blk, ib, slot) =>
      System.arraycopy(blk.stored, 0, out, ib.toInt, blk.stored.length)
      val t = (ib + slot - blockTrailer).toInt
      put16(out, t, blk.stored.length)
      put16(out, t + 2, sig(ib, blk.bid))
      put32(out, t + 4, crc(blk.stored, 0, blk.stored.length))
      putRef(out, t + 8, blk.bid)
    }

    // ── pages: body + trailer (ptype, ptypeRepeat, wSig, then ANSI
    //    bid(4), dwCRC(4) over 500 bytes; Unicode dwCRC(4), bid(8)
    //    over 496 bytes) ─────────────────────────────────────────────
    pages.foreach { case (ib, bid, body, ptype) =>
      val o = ib.toInt
      System.arraycopy(body, 0, out, o, pageTrailer)
      out(o + pageTrailer) = ptype.toByte; out(o + pageTrailer + 1) = ptype.toByte
      put16(out, o + pageTrailer + 2, sig(ib, bid))
      val pageCrc = crc(out, o, pageTrailer)
      if (ansi) { put32(out, o + 504, bid); put32(out, o + 508, pageCrc) }
      else { put32(out, o + 500, pageCrc); putN(out, o + 504, bid, 8) }
    }

    val p = new java.io.FileOutputStream(dst)
    try p.write(out) finally p.close()
  }
}

/** Fixture generator: `sbt "Test/runMain graft.source.pst.UnicodeGen"`
  * re-emits `fixtures/mailbox/unittest.pst` (Unicode) from the committed
  * ANSI fixture `fixtures/mailbox/unittest_ansi.pst`. PstAnsiSpec holds
  * both committed files bit-equal to a fresh conversion of the other.
  */
object UnicodeGen {
  def main(args: Array[String]): Unit = {
    val dst = if (args.nonEmpty) args(0) else "fixtures/mailbox/unittest.pst"
    PstWriter.convert("fixtures/mailbox/unittest_ansi.pst", dst, ansi = false)
    println(s"wrote $dst")
  }
}
