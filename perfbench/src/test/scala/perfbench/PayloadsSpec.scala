package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PayloadsSpec extends AnyFunSuite {
  private val box = Payloads.Box(46.9, -1.9, 47.4, -1.3)

  test("the same seed gives byte-identical payloads") {
    (0 until 5).foreach { i =>
      val a = Payloads.snapshot(42L, i, box, 120)
      val b = Payloads.snapshot(42L, i, box, 120)
      assert(a.json.getBytes("UTF-8").sameElements(b.json.getBytes("UTF-8")))
      assert(a.aircraft == b.aircraft)
    }
    assert(Payloads.snapshot(42L, 0, box, 120).json != Payloads.snapshot(43L, 0, box, 120).json)
    assert(Payloads.snapshot(42L, 0, box, 120).json != Payloads.snapshot(42L, 1, box, 120).json)
  }

  test("payloads carry the live API's awkward values") {
    val snaps = (0 until 10).map(i => Payloads.snapshot(7L, i, box, 120))
    val json = snaps.map(_.json).mkString
    assert(snaps.forall(_.json.startsWith("{\"time\":")))
    assert(json.contains("\"[1,2]\""), "sensor strings")
    assert("\"[A-Z]{3}\\d{1,4} +\"".r.findFirstIn(json).isDefined, "right-padded callsigns")
    assert(json.contains(",-1.50,") && json.contains(",1.50,"), "vertical rates on the phase boundaries")
    assert(json.contains("\"n/a\"") || json.contains("\"maybe\""), "malformed slots")
    val all = snaps.flatMap(_.aircraft)
    val unusable = all.count(!_.usable).toDouble / all.size
    assert(unusable > 0.01 && unusable < 0.10, s"unusable share $unusable")
    assert(all.forall(a => !a.usable || (a.lat >= box.laMin && a.lat <= box.laMax &&
      a.lon >= box.loMin && a.lon <= box.loMax)))
    assert(Set(80.0, 90.0, 110.0, 130.0).subsetOf(all.filter(_.usable).map(_.sourceDb).toSet))
  }
}
