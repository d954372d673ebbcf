package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def bytes(c: Gen.Capture): Seq[Seq[Byte]] =
    c.packets.map(_.payload.toSeq)

  test("the same seed gives identical capture bytes") {
    val a = Gen.capture(7, Gen.batchDims, 40, 60)
    val b = Gen.capture(7, Gen.batchDims, 40, 60)
    assert(bytes(a) == bytes(b))
    assert(a.packets.map(_.ts) == b.packets.map(_.ts))
  }

  test("a different seed gives different capture bytes") {
    val a = Gen.capture(7, Gen.batchDims, 40, 60)
    val b = Gen.capture(8, Gen.batchDims, 40, 60)
    assert(bytes(a) != bytes(b))
  }

  test("the live feed is seeded the same way") {
    def f(seed: Long) = Gen.feed(seed, Gen.streamDims, 100, 2.0, 30, 1000L)
    assert(f(3).packets.map(_.payload.toSeq) == f(3).packets.map(_.payload.toSeq))
    assert(f(3).packets.map(_.payload.toSeq) != f(4).packets.map(_.payload.toSeq))
    assert(f(3).bursts == (1 until 200).filter(_ % 30 == 0).map(_.toLong).toSet)
  }

  test("every wire format is present and packets carry their sequence") {
    val c = Gen.capture(1, Gen.batchDims, 40, 60)
    assert(c.exporters.map(_.wire).toSet ==
      Set(Gen.V5, Gen.V9, Gen.Ipfix, Gen.Sflow))
    assert(c.packets.forall(_.flows.size == Gen.batchDims.recordsPerPacket))
    c.packets.filter(p => c.exporters(p.exp).wire != Gen.Sflow)
      .foreach(p => assert(Gen.seqOf(p.payload) == p.seq))
  }

  test("capture files start with a template announcement") {
    val c = Gen.capture(1, Gen.batchDims, 60, 60)
    val firstPackets = Gen.files(c, 20).map(_._2.head)
    firstPackets.filter(p => Set[Gen.Wire](Gen.V9, Gen.Ipfix)
        .contains(c.exporters(p.exp).wire))
      .foreach { p =>
        // a v9 announcement has 3 extra records in its header count;
        // an IPFIX one starts with a template set (id 2)
        val b = p.payload
        val version = ((b(0) & 0xff) << 8) | (b(1) & 0xff)
        if (version == 9)
          assert((((b(2) & 0xff) << 8) | (b(3) & 0xff)) ==
            Gen.batchDims.recordsPerPacket + 3)
        else assert((((b(16) & 0xff) << 8) | (b(17) & 0xff)) == 2)
      }
  }
}
