package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Baseline-DCT JPEG (JFIF) — the fourth planted binary format and the
  * second ENTROPY-CODED one (round-8 verdict #4: the last
  * crawl-dominant format class). Like the PNG row, the payload bytes
  * only exist AFTER a real entropy encode, so the parse cannot be the
  * hex()+substr codegen idiom: it is a [[parsePng]]-style mapPartitions
  * batch decode — marker walk, DQT/SOF0/DHT parse, canonical Huffman
  * table construction per ITU-T T.81 Annex C, and a real bit-level
  * entropy decode of the scan (DC difference coding, AC run/size
  * symbols, EOB/ZRL, FF00 byte unstuffing) with dequantization.
  *
  * Planted streams are restart-marker-free single-scan 8-bit GRAYSCALE
  * baseline images built from flat 8×8 blocks: block b's 64 pixels all
  * equal v_b = codepoint(text, b mod len) mod 256. The forward DCT of a
  * flat block is DC-only (DC = 8·(v−128), every AC = 0 under the T.81
  * orthonormal scaling), and the DC quant step is planted as a power of
  * two dividing 8·(v−128) — so quantization is EXACT and the decoded,
  * dequantized DC sum is an integer function of (doc_id, text) the
  * DuckDB oracle replays through the full Huffman round-trip, the
  * multimodal_png discipline. The DC Huffman table is the full
  * 12-category T.81 Annex K.3.1 luminance table (diffs span ±2040 —
  * categories 0..11 genuinely occur). r10: each block additionally
  * carries ONE planted nonzero AC coefficient at zigzag k=1 (value
  * ((v+b) mod 9) − 4; zero → an EOB-only block, so both block shapes
  * occur) — dequantized AC·q(1) is pure integer math, so the AC VALUE
  * path is on the hash-checked oracle round-trip too, where r9 only
  * spec-drove its structure. The DECODER is generic — JpegSpec drives
  * arbitrary AC run/size streams and corruption totality.
  *
  * Reference precedent: mrjob/examples/mr_phone_to_url.py:77-85 (parse
  * a real binary container byte-by-byte inside the task).
  *
  * Scale shape: synthesis and decode are per-row map passes over the
  * spread corpus (one decoder instance per partition, reset per
  * record); no shuffle until the final order. */
object JpegOps {

  /** Planted image geometry: width 8·(1 + doc_id mod 3), height
    * 8·(1 + n_chars mod 2) — one to six 8×8 MCUs. */
  val JpegMaxBw = 3

  /** T.81 Annex K.3.1 luminance DC table: BITS (code count per length
    * 1..16) and HUFFVAL (categories 0..11). */
  private[graft] val DcBits =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private[graft] val DcVals = (0 to 11).map(_.toByte).toArray

  /** Planted AC alphabet (r10 — the AC VALUE path is now on the
    * oracled round-trip, not just spec-driven): EOB (0x00) at one bit
    * plus run-0 size-1..3 symbols (0x01..0x03) at 2..4 bits — each
    * block carries at most ONE nonzero AC coefficient (zigzag k=1,
    * value in [−4, 4]) so its dequantized sum stays a pure integer
    * function of (doc_id, text). No all-ones code is assigned (the
    * length-4 code 1111 is left open), keeping 1-fill padding
    * unambiguous per T.81 F.1.2.3. The decoder handles arbitrary DHT
    * tables. */
  private[graft] val AcBits =
    Array(1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private[graft] val AcVals =
    Array(0x00.toByte, 0x01.toByte, 0x02.toByte, 0x03.toByte)

  /** Canonical Huffman codes from (BITS, HUFFVAL) per T.81 Annex C:
    * value → (code, length). */
  private[graft] def huffCodes(bits: Array[Int],
      vals: Array[Byte]): Map[Byte, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Byte, (Int, Int)]
    (1 to 16).foreach { len =>
      (0 until bits(len - 1)).foreach { _ =>
        out += vals(k) -> (code, len)
        code += 1
        k += 1
      }
      code <<= 1
    }
    out.result()
  }

  /** MSB-first bit accumulator with JPEG FF→FF00 stuffing and 1-fill
    * byte alignment. */
  private final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer[Byte]()
    private var acc = 0
    private var nb = 0
    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1)
        nb += 1
        if (nb == 8) {
          buf += acc.toByte
          if (acc == 0xFF) buf += 0x00.toByte
          acc = 0; nb = 0
        }
        i -= 1
      }
    }
    def finish(): Array[Byte] = {
      if (nb > 0) put((1 << (8 - nb)) - 1, 8 - nb)
      buf.toArray
    }
  }

  /** Pure (doc_id, text) → baseline JFIF bytes. */
  private[graft] def synthJpeg(id: Long, text: String): Array[Byte] = {
    val cps = text.codePoints().toArray
    val bw = 1 + (id % JpegMaxBw).toInt
    val bh = 1 + (cps.length % 2)
    val w = 8 * bw
    val h = 8 * bh
    val q0 = 1 << (id % 4).toInt
    val q = Array.tabulate(64)(k =>
      if (k == 0) q0 else 1 + ((id + k) % 5).toInt)
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    def marker(m: Int, payload: Array[Byte]): Unit = {
      out += 0xFF.toByte += m.toByte
      val len = payload.length + 2
      out += (len >> 8).toByte += (len & 0xFF).toByte
      out ++= payload
    }
    out += 0xFF.toByte += 0xD8.toByte // SOI
    marker(0xE0, "JFIF".getBytes("US-ASCII") ++ Array[Byte](0,
      1, 1, 0, 0, 1, 0, 1, 0, 0)) // APP0: v1.1, no density, no thumb
    marker(0xDB, 0x00.toByte +: q.map(_.toByte)) // DQT: Pq=0,Tq=0
    marker(0xC0, Array[Byte](8, // SOF0: precision
      (h >> 8).toByte, (h & 0xFF).toByte,
      (w >> 8).toByte, (w & 0xFF).toByte,
      1, 1, 0x11, 0)) // Nf=1; comp 1, H=V=1, Tq=0
    marker(0xC4, // DHT: DC class-0 id-0 and AC class-1 id-0 together
      (0x00.toByte +: (DcBits.map(_.toByte) ++ DcVals)) ++
      (0x10.toByte +: (AcBits.map(_.toByte) ++ AcVals)))
    marker(0xDA, Array[Byte](1, 1, 0x00, 0, 63, 0)) // SOS
    val dcCodes = huffCodes(DcBits, DcVals)
    val acCodes = huffCodes(AcBits, AcVals)
    val bwr = new BitWriter
    var pred = 0
    (0 until bw * bh).foreach { b =>
      val v = cps(b % cps.length) % 256
      val dcq = 8 * (v - 128) / q0 // exact: q0 ∈ {1,2,4,8} divides 8·x
      val diff = dcq - pred
      pred = dcq
      val s = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(
        math.abs(diff))
      val (c, cl) = dcCodes(s.toByte)
      bwr.put(c, cl)
      if (s > 0)
        bwr.put(if (diff > 0) diff else (diff - 1) & ((1 << s) - 1), s)
      // one planted AC coefficient at zigzag k=1 (run 0), value
      // t = ((v + b) mod 9) − 4 ∈ [−4, 4]; t == 0 → EOB-only block,
      // so the stream mixes AC-bearing and DC-only blocks
      val t = (v + b) % 9 - 4
      if (t != 0) {
        val ts = 32 - Integer.numberOfLeadingZeros(math.abs(t))
        val (ac, acl) = acCodes(ts.toByte) // symbol (run 0) << 4 | size
        bwr.put(ac, acl)
        bwr.put(if (t > 0) t else (t - 1) & ((1 << ts) - 1), ts)
      }
      val (e, el) = acCodes(0x00.toByte)
      bwr.put(e, el) // EOB: the remaining 62 ACs are zero
    }
    out ++= bwr.finish()
    out += 0xFF.toByte += 0xD9.toByte // EOI
    out.toArray
  }

  case class JpegMeta(id: Long, width: Long, height: Long,
      n_components: Long, q_checksum: Long, dc_sum: Long, ac_sum: Long,
      chk_ok: Boolean)

  /** Canonical Huffman DECODE tables per T.81 F.2.2.3: for each code
    * length, the smallest/largest code and the value-array offset. */
  private final class HuffTable(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      (1 to 16).foreach { l =>
        if (bits(l - 1) == 0) { maxCode(l) = -1 }
        else {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
      }
    }
    def value(len: Int, code: Int): Int =
      vals(valPtr(len) + code - minCode(len)) & 0xFF
  }

  /** Bit reader over the entropy segment with FF00 unstuffing; returns
    * -1 past the segment (a marker byte or end of payload). */
  private final class BitReader(p: Array[Byte], start: Int) {
    var pos = start
    private var acc = 0
    private var nb = 0
    var badStuffing = false
    def bit(): Int = {
      if (nb == 0) {
        if (pos >= p.length) return -1
        val b = p(pos) & 0xFF
        if (b == 0xFF) {
          if (pos + 1 >= p.length) return -1
          val nxt = p(pos + 1) & 0xFF
          if (nxt != 0x00) return -1 // a marker ends the segment
          pos += 2
        } else pos += 1
        acc = b; nb = 8
      }
      nb -= 1
      (acc >> nb) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val b = bit()
        if (b < 0) return -1
        v = (v << 1) | b
        i += 1
      }
      v
    }
    def decode(t: HuffTable): Int = {
      var code = 0
      var len = 0
      while (len < 16) {
        val b = bit()
        if (b < 0) return -1
        code = (code << 1) | b
        len += 1
        if (t.maxCode(len) >= 0 && code <= t.maxCode(len))
          return t.value(len, code)
      }
      -1
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Decode ONE baseline JFIF byte array: marker walk, DQT/SOF0/DHT/
    * SOS parse, full entropy decode (DC diffs + AC run/size through
    * EOB/ZRL), dequantized DC accumulation. Total on garbage — any
    * structural violation (bad marker/length/huffman code/missing
    * EOI/unsupported mode) lands in chk_ok = false with zeroed fields,
    * never a throw. */
  private[graft] def decodeJpeg(id: Long, p: Array[Byte]): JpegMeta = {
    val bad = JpegMeta(id, 0, 0, 0, 0, 0, 0, chk_ok = false)
    try {
      if (p.length < 4 || (p(0) & 0xFF) != 0xFF || (p(1) & 0xFF) != 0xD8)
        return bad
      var pos = 2
      var w = 0; var h = 0; var nf = 0
      val qtabs = scala.collection.mutable.Map[Int, Array[Int]]()
      val dcTabs = scala.collection.mutable.Map[Int, HuffTable]()
      val acTabs = scala.collection.mutable.Map[Int, HuffTable]()
      var qChk = 0L
      var sofSeen = false
      var compQ = 0; var compDc = 0; var compAc = 0
      while (pos + 4 <= p.length) {
        if ((p(pos) & 0xFF) != 0xFF) return bad
        val m = p(pos + 1) & 0xFF
        val len = ((p(pos + 2) & 0xFF) << 8) | (p(pos + 3) & 0xFF)
        if (len < 2 || pos + 2 + len > p.length) return bad
        val seg = pos + 4
        val segEnd = pos + 2 + len
        m match {
          case 0xDB => // DQT: 8-bit tables only (baseline)
            var q = seg
            while (q < segEnd) {
              val pq = (p(q) & 0xF0) >> 4
              val tq = p(q) & 0x0F
              if (pq != 0 || q + 65 > segEnd) return bad
              val tab = Array.tabulate(64)(k => p(q + 1 + k) & 0xFF)
              qtabs(tq) = tab
              qChk += tab.map(_.toLong).sum
              q += 65
            }
          case 0xC0 => // SOF0 baseline
            if (p(seg) != 8) return bad // precision
            h = ((p(seg + 1) & 0xFF) << 8) | (p(seg + 2) & 0xFF)
            w = ((p(seg + 3) & 0xFF) << 8) | (p(seg + 4) & 0xFF)
            nf = p(seg + 5) & 0xFF
            // grayscale, no subsampling — the planted class; anything
            // else is out of scope for the dc_sum walk
            if (nf != 1 || (p(seg + 7) & 0xFF) != 0x11) return bad
            compQ = p(seg + 8) & 0xFF
            sofSeen = true
          case 0xC1 | 0xC2 | 0xC3 => return bad // non-baseline SOF
          case 0xC4 => // DHT: possibly several tables
            var q = seg
            while (q < segEnd) {
              val cls = (p(q) & 0xF0) >> 4
              val tid = p(q) & 0x0F
              if (q + 17 > segEnd) return bad
              val bits = Array.tabulate(16)(i => p(q + 1 + i) & 0xFF)
              val nv = bits.sum
              if (nv > 256 || q + 17 + nv > segEnd) return bad
              val vals = Array.tabulate(nv)(i => p(q + 17 + i))
              if (cls == 0) dcTabs(tid) = new HuffTable(bits, vals)
              else acTabs(tid) = new HuffTable(bits, vals)
              q += 17 + nv
            }
          case 0xDA => // SOS: entropy decode then expect EOI
            if (!sofSeen || (p(seg) & 0xFF) != 1) return bad
            compDc = (p(seg + 2) & 0xF0) >> 4
            compAc = p(seg + 2) & 0x0F
            val dcT = dcTabs.getOrElse(compDc, return bad)
            val acT = acTabs.getOrElse(compAc, return bad)
            val qt = qtabs.getOrElse(compQ, return bad)
            val blocks = ((w + 7) / 8) * ((h + 7) / 8)
            val br = new BitReader(p, segEnd)
            var pred = 0
            var dcSum = 0L
            var acSum = 0L
            var b = 0
            while (b < blocks) {
              val s = br.decode(dcT)
              if (s < 0 || s > 15) return bad
              val dv = if (s == 0) 0 else {
                val raw = br.bits(s)
                if (raw < 0) return bad
                extend(raw, s)
              }
              pred += dv
              dcSum += pred.toLong * qt(0)
              var k = 1
              var eob = false
              while (k < 64 && !eob) {
                val sym = br.decode(acT)
                if (sym < 0) return bad
                val run = (sym >> 4) & 0xF
                val size = sym & 0xF
                if (size == 0) {
                  if (run == 15) {
                    k += 16 // ZRL: sixteen zero coefficients
                    // T.81 forbids a zero run crossing the block
                    // boundary — excess ZRLs past coefficient 63 are
                    // a structural violation, not a silent loop exit
                    // (mirrors the size>0 path's k>63 check; r9 advice)
                    if (k > 64) return bad
                  }
                  else eob = true        // EOB
                } else {
                  k += run
                  if (k > 63) return bad
                  val raw = br.bits(size)
                  if (raw < 0) return bad
                  // dequantize at the coefficient's zigzag position —
                  // both DQT and the scan walk zigzag order, so no
                  // de-zigzag is needed for a coefficient SUM
                  acSum += extend(raw, size).toLong * qt(k)
                  k += 1
                }
              }
              b += 1
            }
            // byte-align, then the next marker must be EOI
            val tail = br.pos
            if (tail + 2 > p.length || (p(tail) & 0xFF) != 0xFF ||
                (p(tail + 1) & 0xFF) != 0xD9) return bad
            return JpegMeta(id, w.toLong, h.toLong, nf.toLong, qChk,
              dcSum, acSum, chk_ok = true)
          case 0xD9 => return bad // EOI before any scan
          case _ => () // APPn/COM/...: skip
        }
        pos = segEnd
      }
      bad
    } catch {
      case _: ArrayIndexOutOfBoundsException |
           _: NegativeArraySizeException => bad
    }
  }

  /** The parse over any (id, payload BINARY) frame — mapPartitions
    * batch decode, the [[MultimodalOps.parsePng]] idiom for
    * entropy-coded payloads. */
  def parseJpeg(jpeg: DataFrame): DataFrame = {
    import jpeg.sparkSession.implicits._
    jpeg.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => decodeJpeg(id, p) })
      .toDF()
      .orderBy(col("id"))
  }

  /** Registered query: plant real baseline JFIFs, decode them back
    * through the real Huffman scan, verify the marker walk; the oracle
    * re-derives every field — including the dequantized DC sum THROUGH
    * the entropy round-trip — from (doc_id, text). */
  def multimodalJpeg(spark: SparkSession, dir: String): DataFrame =
    parseJpeg(MultimodalOps.planted(spark, dir, synthJpeg))

  /** Direct derivation: dc(b) = 8·(v_b − 128) exactly (the power-of-two
    * DC quant step cancels), v_b = codepoint(b mod len) mod 256;
    * ac(b) = t_b · q(1) with t_b = ((v_b + b) mod 9) − 4 and
    * q(1) = 1 + (doc_id + 1) mod 5 — pure integers through the
    * Huffman round-trip, so the AC VALUE path (not just its
    * structure) is on the verified path (r10);
    * q_checksum = q0 + Σ_{k=1..63} (1 + (doc_id+k) mod 5). */
  lazy val multimodalJpegSql: String =
    s"""SELECT doc_id AS id,
       |  CAST(8 * (1 + doc_id % $JpegMaxBw) AS BIGINT) AS width,
       |  CAST(8 * (1 + length(text) % 2) AS BIGINT) AS height,
       |  CAST(1 AS BIGINT) AS n_components,
       |  CAST((1 << CAST(doc_id % 4 AS INT)) + list_sum(list_transform(
       |    range(1, 64), k -> 1 + (doc_id + k) % 5)) AS BIGINT)
       |    AS q_checksum,
       |  CAST(list_sum(list_transform(
       |    range((1 + doc_id % $JpegMaxBw) * (1 + length(text) % 2)),
       |    b -> 8 * (unicode(text[CAST(b % length(text) AS INT) + 1])
       |      % 256 - 128))) AS BIGINT) AS dc_sum,
       |  CAST(list_sum(list_transform(
       |    range((1 + doc_id % $JpegMaxBw) * (1 + length(text) % 2)),
       |    b -> ((unicode(text[CAST(b % length(text) AS INT) + 1])
       |      % 256 + b) % 9 - 4) * (1 + (doc_id + 1) % 5)))
       |    AS BIGINT) AS ac_sum,
       |  TRUE AS chk_ok
       |FROM documents WHERE length(text) >= 1
       |ORDER BY id""".stripMargin
}
