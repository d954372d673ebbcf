package graft

import graft.sources.NetflowDecoder

/** A seeded NetFlow decode corpus: the contract packets
  * (`Queries.v5Packets`, `v9Packets`, `ipfixPackets`), every truncation
  * of each, and seeded byte flips of each. Every mutant decodes into a
  * fresh template cache, primed with the rest of its family's template
  * and options packets, and is followed by a data-only probe decoded
  * against that cache, so a mutated template or options record shows in
  * the rows it makes the probe decode. [[lines]] renders one line per
  * mutant with every decoded value, in decode order. */
object DecoderCorpus {
  private val T0 = 1700000000L
  private val FlipsPerPacket = 100

  private final case class Family(name: String,
                                  packets: Seq[(Array[Byte], Long)],
                                  prime: Int => Seq[(Array[Byte], Long)],
                                  probe: Option[(Array[Byte], Long)])

  private def families: Seq[Family] = {
    val v5 = Queries.v5Packets(8).zipWithIndex.map { case (p, i) =>
      (p, T0 + i)
    }
    val v9 = Queries.v9Packets(8).zipWithIndex.map { case (p, i) =>
      (p, T0 + i)
    }
    val ipfix = Queries.ipfixPackets(64)
    // v9 packet 0 without its 20-byte template set: header + data set
    val v9Data = v9.head._1.take(20) ++ v9.head._1.drop(40)
    Seq(
      Family("v5", v5, _ => Nil, None),
      Family("v9", v9, _ => Nil, Some((v9Data, T0 + 8))),
      // packets 0 (templates) and 1 (options data, rate 10) prime every
      // other ipfix mutant; packet 2's data set is the probe
      Family("ipfix", ipfix,
        i => Seq(0, 1).filter(_ != i).map(ipfix(_)),
        Some((ipfix(2)._1, T0 + 64))))
  }

  private def mutants(p: Array[Byte],
                      seed: Long): Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(seed)
    val truncs = (0 until p.length).map(n => (s"t$n", p.take(n)))
    val flips = (0 until FlipsPerPacket).map { k =>
      val c = p.clone()
      (0 to rnd.nextInt(3)).foreach { _ =>
        if (c.nonEmpty) c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
      }
      (s"f$k", c)
    }
    (("base", p) +: truncs) ++ flips
  }

  private def render(v: Any): String = v match {
    case null           => "-"
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("x", "", "")
    case s: String      =>
      s.flatMap(c => if (c >= ' ' && c < 127 && c != '"') c.toString
                     else f"\\u${c.toInt}%04x").mkString("\"", "", "\"")
    case o              => o.toString
  }

  private def rows(rs: Seq[Array[Any]]): String =
    rs.map(_.map(render).mkString(",")).mkString("[", " ; ", "]")

  /** One line per mutant: family, base index, mutant id, the rows the
    * mutant decodes, then the rows its family's probe decodes. */
  def lines(): Seq[String] =
    families.flatMap { f =>
      f.packets.zipWithIndex.flatMap { case ((p, ts), i) =>
        mutants(p, f.name.hashCode * 1000L + i).map { case (id, m) =>
          val cache = new NetflowDecoder.TemplateCache
          def dec(b: Array[Byte], t: Long) =
            NetflowDecoder.decodePacket(b, t, 1L, cache,
              entMap = Map((9999L, 77) -> 2001))
          val before = f.prime(i).filter(_._2 < ts)
          val after = f.prime(i).filter(_._2 >= ts)
          before.foreach { case (b, t) => dec(b, t) }
          val own = dec(m, ts)
          after.foreach { case (b, t) => dec(b, t) }
          val probe = f.probe.map { case (b, t) => dec(b, t) }
          s"${f.name} $i $id ${rows(own)} ${probe.fold("")(rows)}"
        }
      }
    }

  def digest(ls: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(ls.mkString("\n").getBytes("UTF-8"))
      .map(x => f"${x & 0xff}%02x").mkString
}
