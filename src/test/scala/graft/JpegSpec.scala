package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{JpegOps, MultimodalOps}

/** Baseline-JPEG plant + decode: hand-derived entropy golden, field
  * round-trip, generic AC run/size path, corruption totality. */
class JpegSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.Sf0001

  test("synthJpeg(1, \"AB\") entropy segment matches the hand-derived " +
    "Huffman golden bit-for-bit") {
    // id=1, "AB": bw=2, bh=1, q0=2; v={65,66} → dc_q={-252,-248}.
    // AC codes (bits 1,1,1,1): EOB="0", 0x01="10", 0x02="110",
    // 0x03="1110" (no all-ones code assigned).
    // Block 0: diff=-252 → category 8 (code 111110), ones'-complement
    //   bits (-253)&0xFF = 00000011; planted AC t=(65+0)%9-4=-2 →
    //   size 2: symbol 0x02 = 110, bits (-3)&3 = 01; EOB = 0.
    // Block 1: diff=+4 → category 3 (code 100), bits 100; planted AC
    //   t=(66+1)%9-4=0 → EOB-only block: 0.
    // Stream: 111110 00000011 110 01 0 100 100 0 + pad 11111
    //       = 11111000 00001111 00101001 00011111 = F8 0F 29 1F,
    // then EOI FFD9.
    val p = JpegOps.synthJpeg(1L, "AB")
    assert(p.takeRight(6).map(_ & 0xFF).toSeq ==
      Seq(0xF8, 0x0F, 0x29, 0x1F, 0xFF, 0xD9),
      "entropy segment + EOI must match the hand-derived golden")
    assert(p.take(2).map(_ & 0xFF).toSeq == Seq(0xFF, 0xD8), "SOI")
  }

  test("decodeJpeg reads every field back through the real scan") {
    val m = JpegOps.decodeJpeg(1L, JpegOps.synthJpeg(1L, "AB"))
    assert(m.chk_ok, "planted stream must verify")
    assert(m.width == 16L && m.height == 8L && m.n_components == 1L)
    // q_checksum = q0 + Σ_{k=1..63} (1 + (1+k) mod 5) = 2 + 63 + 129
    assert(m.q_checksum == 194L, s"q_checksum ${m.q_checksum}")
    // dc_sum = dequantized DCs: (-252 + -248)·q0 = -500·2
    assert(m.dc_sum == -1000L, s"dc_sum ${m.dc_sum}")
    // ac_sum = Σ t_b·q(1): blocks t={-2, 0}, q(1)=1+(1+1)%5=3 → -6
    assert(m.ac_sum == -6L, s"ac_sum ${m.ac_sum}")
  }

  test("generic AC run/size path: a scan with a real AC coefficient " +
    "decodes (dc_sum unaffected by AC terms)") {
    // Hand-built single-block stream with a custom AC table:
    // symbol 0x01 (run 0, size 1) at one bit, EOB at two bits.
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    def marker(m: Int, payload: Array[Byte]): Unit = {
      out += 0xFF.toByte += m.toByte
      val len = payload.length + 2
      out += (len >> 8).toByte += (len & 0xFF).toByte
      out ++= payload
    }
    out += 0xFF.toByte += 0xD8.toByte
    marker(0xDB, 0x00.toByte +: Array.fill(64)(1.toByte)) // q ≡ 1
    marker(0xC0, Array[Byte](8, 0, 8, 0, 8, 1, 1, 0x11, 0)) // 8×8 gray
    val acBits = Array(1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val acVals = Array(0x01.toByte, 0x00.toByte)
    marker(0xC4,
      (0x00.toByte +: (JpegOps.DcBits.map(_.toByte) ++ JpegOps.DcVals)) ++
      (0x10.toByte +: (acBits.map(_.toByte) ++ acVals)))
    marker(0xDA, Array[Byte](1, 1, 0x00, 0, 63, 0))
    // DC cat0 ("00"), AC sym 0x01 ("0") + coeff bit "1", EOB ("10"),
    // pad "11" → 00011011 = 0x1B
    out += 0x1B.toByte
    out += 0xFF.toByte += 0xD9.toByte
    val m = JpegOps.decodeJpeg(7L, out.toArray)
    assert(m.chk_ok, "AC-bearing scan must decode")
    assert(m.width == 8L && m.height == 8L)
    assert(m.q_checksum == 64L)
    assert(m.dc_sum == 0L, "flat-zero DC with one AC coefficient")
    assert(m.ac_sum == 1L, "AC coefficient +1 dequantized by q(1)=1")
  }

  test("excess ZRLs past coefficient 63 are a structural violation: " +
    "chk_ok=false, not a silent block-loop exit (r9 advice)") {
    // Same hand-built single-block scaffold as the AC test, but the
    // custom AC table maps code "0" to ZRL (0xF0) and "10" to EOB.
    // Four ZRLs from k=1 land k at 65 — T.81 forbids a zero run
    // crossing the block boundary, so the decode must flag the stream
    // even though the bytes that follow look like a clean EOI.
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    def marker(m: Int, payload: Array[Byte]): Unit = {
      out += 0xFF.toByte += m.toByte
      val len = payload.length + 2
      out += (len >> 8).toByte += (len & 0xFF).toByte
      out ++= payload
    }
    out += 0xFF.toByte += 0xD8.toByte
    marker(0xDB, 0x00.toByte +: Array.fill(64)(1.toByte))
    marker(0xC0, Array[Byte](8, 0, 8, 0, 8, 1, 1, 0x11, 0))
    val acBits = Array(1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val acVals = Array(0xF0.toByte, 0x00.toByte) // "0"→ZRL, "10"→EOB
    marker(0xC4,
      (0x00.toByte +: (JpegOps.DcBits.map(_.toByte) ++ JpegOps.DcVals)) ++
      (0x10.toByte +: (acBits.map(_.toByte) ++ acVals)))
    marker(0xDA, Array[Byte](1, 1, 0x00, 0, 63, 0))
    // DC cat0 ("00") + four ZRLs ("0"×4) + pad "11" → 0x03
    out += 0x03.toByte
    out += 0xFF.toByte += 0xD9.toByte
    assert(!JpegOps.decodeJpeg(8L, out.toArray).chk_ok,
      "a zero run crossing the block boundary must land in chk_ok=false")
  }

  test("decode is total on corruption: every structural violation " +
    "lands in chk_ok=false, never a throw") {
    val good = JpegOps.synthJpeg(5L, "hello world")
    def broken(mut: Array[Byte] => Array[Byte]): Boolean =
      JpegOps.decodeJpeg(5L, mut(good.clone())).chk_ok
    assert(JpegOps.decodeJpeg(5L, good).chk_ok, "pristine verifies")
    assert(!broken { p => p(1) = 0x00; p }, "broken SOI")
    assert(!broken(p => p.dropRight(4)), "truncated mid-scan / no EOI")
    assert(!broken(p => p.take(8)), "header-only fragment")
    assert(!broken { p =>
      val i = p.indexOfSlice(Seq(0xFF.toByte, 0xC0.toByte))
      p(i + 1) = 0xC2.toByte; p // progressive SOF is out of scope
    }, "non-baseline SOF")
    assert(!broken { p =>
      val i = p.indexOfSlice(Seq(0xFF.toByte, 0xC4.toByte))
      p(i + 5) = 0x7F.toByte; p // DHT BITS count inflated past segment
    }, "corrupt DHT counts")
    // NOTE: a plain content bit flip in the scan is NOT structurally
    // detectable — JPEG carries no integrity check, the flipped stream
    // just decodes to different coefficients (unlike PNG's CRCs). An
    // unstuffed 0xFF IS structural: in-stream it reads as a marker,
    // and past the consumed bits it displaces the expected EOI.
    assert(!broken { p => p(p.length - 3) = 0xFF.toByte; p },
      "unstuffed 0xFF in the entropy tail")
    // deterministic garbage of several lengths — never throws
    (0 until 64).foreach { n =>
      val junk = Array.tabulate(n)(i => ((i * 131 + n * 17) % 251).toByte)
      assert(!JpegOps.decodeJpeg(9L, junk).chk_ok)
    }
    // garbage that STARTS like a JPEG then degenerates
    val headJunk = good.take(24) ++
      Array.tabulate(40)(i => ((i * 89 + 3) % 256).toByte)
    assert(!JpegOps.decodeJpeg(9L, headJunk).chk_ok)
  }

  test("parseJpeg over the corpus: all rows verify; registered row " +
    "equals the frame-level parse") {
    import spark.implicits._
    val reg = JpegOps.multimodalJpeg(spark, dir).collect()
    assert(reg.nonEmpty && reg.forall(_.getAs[Boolean]("chk_ok")),
      "every planted JPEG must round-trip chk_ok")
    assert(reg.exists(_.getAs[Long]("ac_sum") != 0L),
      "the planted AC coefficients must reach the decoded output")
    val direct = JpegOps.parseJpeg(
      MultimodalOps.planted(spark, dir, JpegOps.synthJpeg)).collect()
    assert(reg.toSeq == direct.toSeq)
  }
}
