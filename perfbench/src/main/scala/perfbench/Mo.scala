package perfbench

import graft.config.MoConfig
import perfbench.Gen.Flow

/** Monitoring-object trees the workloads run, each described twice: as
  * the mo.conf JSON text the engine parses ([[Node.parsed]] goes through
  * `MoConfig.parse`), and as plain Scala functions over generated flows
  * that the [[Reference]] checker evaluates without the engine.
  */
object Mo {

  /** A key field: DSL text, the engine's SQL-safe column name, and the
    * value it takes on a flow. */
  final case class Key(text: String, sql: String, of: Flow => Long)
  /** An aggregable measure: DSL text, scale, raw value on a flow. The
    * engine multiplies by the exporter's sampling rate. */
  final case class Measure(text: String, scale: Long, of: Flow => Long)
  final case class Filter(text: String, test: Flow => Boolean)

  final case class Fwm(name: String, measure: Measure, keys: Seq[Key],
                       timeSec: Long, limit: Option[Int]) {
    def fields: Seq[String] = s"${measure.text} desc" +: keys.map(_.text)
  }
  final case class Mavg(name: String, key: Key, measure: Measure,
                        timeSec: Long, limit: Double)
  final case class Cls(key: Key, measure: Measure, topPct: Double,
                       timeSec: Long)

  final case class Node(name: String, filter: Filter, fwm: Seq[Fwm],
                        mavg: Seq[Mavg] = Nil, cls: Seq[Cls] = Nil,
                        children: Seq[Node] = Nil) {

    private def q(s: String) = "\"" + s + "\""
    def json: String = {
      val f = fwm.map(s => s"""{"name": ${q(s.name)}, "fields": [${
        s.fields.map(q).mkString(", ")}], "time": ${s.timeSec}${
        s.limit.map(n => s""", "limit": $n""").getOrElse("")}}""")
      val m = mavg.map(s => s"""{"name": ${q(s.name)}, "fields": [${
        q(s.key.text)}, ${q(s.measure.text)}], "time": ${s.timeSec},
        "overlimit": [{"name": "over", "default": [${s.limit}]}]}""")
      val c = cls.map(s => s"""{"fields": [${q(s.key.text)}],
        "top-percents": ${s.topPct}, "time": ${s.timeSec},
        "val": ${q(s.measure.text + " desc")}}""")
      s"""{"filter": ${q(filter.text)}, "fwm": [${f.mkString(", ")}],
        "mavg": [${m.mkString(", ")}],
        "classification": [${c.mkString(", ")}]}"""
    }

    /** Parsed by the engine's config layer. */
    def parsed: MoConfig.MonitoringObject =
      MoConfig.parse(name, json, children.map(_.parsed))

    /** Every node with its path-conjoined filter, root first. */
    def flatten(parent: Flow => Boolean = _ => true)
        : Seq[(Node, Flow => Boolean)] = {
      val p: Flow => Boolean = f => parent(f) && filter.test(f)
      (this, p) +: children.flatMap(_.flatten(p))
    }
  }

  // ---------------------------------------------------------- vocabulary
  val dstHost = Key("dst host", "dst_host", _.dst)
  val dstPort = Key("dst port", "dst_port", _.dport.toLong)
  val proto = Key("proto", "proto", _.proto.toLong)
  val inIf = Key("src ifidx", "src_ifidx", _.inIf.toLong)
  val outIf = Key("dst ifidx", "dst_ifidx", _.outIf.toLong)

  val octets = Measure("octets", 1, _.bytes)
  val packets = Measure("packets", 1, _.pkts)
  val bits = Measure("bits", 8, _.bytes)

  val customers = Filter("dst net 10.0.0.0/8", f => (f.dst >>> 24) == 10L)
  val tcp = Filter("proto 6", _.proto == 6)
  def prefix(p: Int): Filter = Filter(s"dst net 10.$p.0.0/16",
    f => (f.dst >>> 16) == ((10L << 8) | p))

  // ------------------------------------------------------------ workloads

  /** netflow_fwm: two MOs, customers and its TCP child. */
  val netflowTree: Node = Node("customers", customers,
    fwm = Seq(Fwm("top_dst", octets, Seq(dstHost), 60, Some(10))),
    mavg = Seq(Mavg("dst_rate", dstHost, octets, 5, 5e9)),
    cls = Seq(Cls(dstPort, octets, 90.0, 30)),
    children = Seq(Node("tcp", tcp,
      fwm = Seq(Fwm("top_ports", packets, Seq(dstPort), 60, Some(10))))))

  /** mo_fanout: a root over the customer prefixes with one child MO per
    * prefix (prefixes repeat past 16), each with one 5-minute fwm
    * section and no top-N (the shared pass's output is the report). */
  def fanoutTree(mos: Int): Node = Node("customers", customers,
    fwm = Seq(Fwm("by_proto", octets, Seq(proto), 300, None)),
    children = (0 until mos - 1).map { i =>
      val keys = Seq(Seq(dstHost), Seq(dstPort, proto), Seq(inIf),
        Seq(inIf, outIf))(i % 4)
      val m = if (i % 2 == 0) octets else packets
      Node(s"cust$i", prefix(i % Gen.customerPrefixes),
        fwm = Seq(Fwm(s"c${i}_rep", m, keys, 300, None)))
    })

  /** stream_alerts: one MO with 24 one-second fwm sections (8 key sets ×
    * 3 measures; no top-N: the sink takes each closed window's full
    * aggregate) and a mavg overlimit over destination hosts. */
  def streamMo(limit: Double): Node = Node("live", customers,
    fwm = for {
      (m, mi) <- Seq(octets, packets, bits).zipWithIndex
      (keys, ki) <- Seq(Seq(dstHost), Seq(dstPort), Seq(proto), Seq(inIf),
        Seq(outIf), Seq(dstPort, proto), Seq(inIf, outIf),
        Seq(proto, inIf)).zipWithIndex
    } yield Fwm(s"w${mi}_$ki", m, keys, 1, None),
    mavg = Seq(Mavg("m_dst", dstHost, octets, 5, limit)))
}
