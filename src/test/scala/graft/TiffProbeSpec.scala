package graft

import graft.operators.TiffProbe
import graft.operators.TiffProbe.SynthPage

/** TIFF prober: both byte orders, multi-page chains, and the hostile-byte
  * sweep (every malformation yields None, never a throw).
  */
class TiffProbeSpec extends SparkTestBase {

  private val p1 = SynthPage(640, 480, 8, 1, 1, 3)
  private val p2 = SynthPage(320, 240, 16, 5, 6, 1)

  test("both byte orders round trip; multi-page IFD chain walks in order") {
    for (le <- Seq(true, false)) {
      val b = TiffProbe.synthTiff(le, Seq(p1, p2))
      val info = TiffProbe.probe(b).get
      assert(info.littleEndian == le && info.nPages == 2)
      val Vector(a, c) = info.pages
      assert(a.width == 640 && a.height == 480 && a.bits == 8 &&
        a.compression == 1 && a.orientation == 1 && a.samplesPerPixel == 3)
      assert(c.width == 320 && c.height == 240 && c.bits == 16 &&
        c.compression == 5 && c.orientation == 6 && c.samplesPerPixel == 1)
      assert(b.length == 8 + 2 * 78) // header + two 6-tag IFDs
    }
  }

  test("hostile bytes: every malformation yields None, never a throw") {
    val b = TiffProbe.synthTiff(littleEndian = true, Seq(p1, p2))
    assert(TiffProbe.probe(Array.emptyByteArray).isEmpty)
    assert(TiffProbe.probe("II just text".getBytes("US-ASCII")).isEmpty)
    // wrong magic number (43)
    val badMagic = b.clone(); badMagic(2) = 43
    assert(TiffProbe.probe(badMagic).isEmpty)
    // unknown byte order
    val badOrder = b.clone(); badOrder(0) = 'X'
    assert(TiffProbe.probe(badOrder).isEmpty)
    // truncations across the structure
    Seq(4, 9, 40, b.length - 1).foreach { keep =>
      assert(TiffProbe.probe(b.take(keep)).isEmpty, s"take($keep)")
    }
    // entries out of ascending-tag order: swap the first two 12-byte
    // entries of IFD0 (at offset 8 + 2)
    val swapped = b.clone()
    val e0 = 10
    val tmp = swapped.slice(e0, e0 + 12)
    System.arraycopy(swapped, e0 + 12, swapped, e0, 12)
    System.arraycopy(tmp, 0, swapped, e0 + 12, 12)
    assert(TiffProbe.probe(swapped).isEmpty)
    // IFD offset out of bounds
    val badOff = b.clone(); badOff(4) = 0xf0.toByte; badOff(5) = 0xff.toByte
    assert(TiffProbe.probe(badOff).isEmpty)
    // odd IFD offset violates the word-alignment rule
    val oddOff = b.clone(); oddOff(4) = 9
    assert(TiffProbe.probe(oddOff).isEmpty)
    // cyclic IFD chain: point the LAST next-IFD pointer back at IFD0
    val cyc = b.clone()
    val lastNext = 8 + 78 + 2 + 12 * 6
    cyc(lastNext) = 8; cyc(lastNext + 1) = 0
    cyc(lastNext + 2) = 0; cyc(lastNext + 3) = 0
    assert(TiffProbe.probe(cyc).isEmpty)
    // a page stripped of its geometry: retag ImageWidth (256) to the
    // unknown tag 255 — still ascending, but width is then missing
    val noW = b.clone()
    noW(10) = 255.toByte; noW(11) = 0
    assert(TiffProbe.probe(noW).isEmpty)
  }

  test("probeContainers reports tiff with page count and no time axis") {
    // exercised through the unified front door as well
    import spark.implicits._
    import graft.operators.Multimodal
    val b = TiffProbe.synthTiff(littleEndian = false, Seq(p1, p2))
    val out = Multimodal.probeContainers(Seq(
      Multimodal.MediaRow(1L, b, Multimodal.MediaMeta("x", b.length, 0L)))
      .toDS()).collect().head
    assert(out.container.contains("tiff") && out.n_streams.contains(2) &&
      out.duration_ms.isEmpty && out.codec.contains("tiff"))
  }
}
