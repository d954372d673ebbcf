package graft.flow

import org.apache.spark.sql.types._

/** Canonical flow-record schema and metadata registry.
  *
  * The reference drives everything from three X-macro definition files:
  * the physical record schema (reference netflow.def:2-64), the logical
  * queryable dimensions with src/dst column pairs (filter.def:2-37), and
  * the aggregable measures with scale factors (filter-ag.def:2-8). We keep
  * the same metadata-driven design: this object is the single source of
  * truth the filter DSL, fieldset split and aggregation builders consume.
  *
  * Type mapping (SURVEY.md §1.3): unsigned ints → LongType (uniform u64
  * semantics), IPv4 → LongType (unsigned, 0..2^32-1), IPv6 → BinaryType(16),
  * MAC → BinaryType(6), strings → StringType. Presence flags (`has_X` in
  * flow-info.h:12-16) become SQL NULLability.
  */
object FlowSchema {

  /** Physical value kinds, mirroring NF_FIELD_* (reference netflow.def:1). */
  sealed trait Kind
  case object UIntK   extends Kind // NF_FIELD_INT: 1-8 byte unsigned, BE
  case object Ip4K    extends Kind // NF_FIELD_IP_ADDR, 4 bytes
  case object Ip6K    extends Kind // NF_FIELD_IP_ADDR, 16 bytes
  case object MacK    extends Kind // NF_FIELD_MAC, 6 bytes
  case object StringK extends Kind // NF_FIELD_STRING

  /** One physical column (reference netflow.def FIELD row). */
  final case class PhysField(name: String, kind: Kind, nfId: Int,
                             sizeMin: Int, sizeMax: Int) {
    def sparkType: DataType = kind match {
      case UIntK   => LongType
      case Ip4K    => LongType    // unsigned IPv4 in a Long
      case Ip6K    => BinaryType  // 16 bytes
      case MacK    => BinaryType  // 6 bytes
      case StringK => StringType
    }
  }

  /** Full physical schema, one row per FIELD in reference netflow.def:2-64
    * plus the virtual exporter-identity fields (flow-info.h:19-33). */
  val physFields: Seq[PhysField] = Seq(
    PhysField("in_bytes", UIntK, 1, 4, 8),
    PhysField("in_pkts", UIntK, 2, 4, 8),
    PhysField("protocol", UIntK, 4, 1, 1),
    PhysField("src_tos", UIntK, 5, 1, 1),
    PhysField("dst_tos", UIntK, 55, 1, 1),
    PhysField("tcp_flags", UIntK, 6, 1, 2),
    PhysField("l4_src_port", UIntK, 7, 2, 2),
    PhysField("ip4_src_addr", Ip4K, 8, 4, 4),
    PhysField("src_mask", UIntK, 9, 1, 1),
    PhysField("input_snmp", UIntK, 10, 2, 4),
    PhysField("l4_dst_port", UIntK, 11, 2, 2),
    PhysField("ip4_dst_addr", Ip4K, 12, 4, 4),
    PhysField("dst_mask", UIntK, 13, 1, 1),
    PhysField("output_snmp", UIntK, 14, 2, 4),
    PhysField("ip4_next_hop", Ip4K, 15, 4, 4),
    PhysField("src_as", UIntK, 16, 2, 4),
    PhysField("dst_as", UIntK, 17, 2, 4),
    PhysField("bgp_next_hop", Ip4K, 18, 4, 4),
    PhysField("last_switched", UIntK, 21, 4, 4),
    PhysField("first_switched", UIntK, 22, 4, 4),
    PhysField("ip6_src_addr", Ip6K, 27, 16, 16),
    PhysField("ip6_dst_addr", Ip6K, 28, 16, 16),
    PhysField("icmp_type", UIntK, 32, 2, 2),
    PhysField("sampler_id", UIntK, 48, 1, 4),
    PhysField("min_ttl", UIntK, 52, 1, 1),
    PhysField("max_ttl", UIntK, 53, 1, 1),
    PhysField("frag_id", UIntK, 54, 2, 4),
    PhysField("src_mac", MacK, 56, 6, 6),
    PhysField("dst_mac", MacK, 57, 6, 6),
    PhysField("src_vlan", UIntK, 58, 2, 2),
    PhysField("dst_vlan", UIntK, 59, 2, 2),
    PhysField("ip_protocol_version", UIntK, 60, 1, 1),
    PhysField("direction", UIntK, 61, 1, 1),
    PhysField("if_name", StringK, 82, 1, 16),
    PhysField("fwd_status", UIntK, 89, 1, 1),
    PhysField("flow_start_ms", UIntK, 152, 8, 8),
    PhysField("flow_end_ms", UIntK, 153, 8, 8),
    PhysField("flow_end_reason", UIntK, 136, 1, 1),
    PhysField("ip_ttl", UIntK, 192, 1, 1),
    PhysField("ioctets", UIntK, 231, 8, 8),
    PhysField("roctets", UIntK, 232, 2, 8),
    PhysField("ipackets", UIntK, 298, 8, 8),
    PhysField("rpackets", UIntK, 239, 8, 8),
    PhysField("ingrs_vrf", UIntK, 234, 4, 4),
    PhysField("egrs_vrf", UIntK, 235, 4, 4),
    PhysField("src_dot1q_vlan", UIntK, 243, 2, 2),
    PhysField("src_dot1q_cvlan", UIntK, 245, 2, 2),
    PhysField("dst_dot1q_vlan", UIntK, 254, 2, 2),
    PhysField("dst_dot1q_cvlan", UIntK, 255, 2, 2),
    PhysField("obs_time_ms", UIntK, 323, 8, 8),
    PhysField("vas_session_id", UIntK, 2000, 8, 8),
    PhysField("vas_http_host", StringK, 2001, 0, 256),
    PhysField("dev_ip", Ip4K, 65500, 4, 4),
    PhysField("dns_name", StringK, 65510, 1, 256),
    PhysField("dns_ips", StringK, 65511, 1, 512),
    PhysField("sni", StringK, 65512, 1, 256),
    PhysField("class0", StringK, 65520, 1, 64),
    PhysField("class1", StringK, 65521, 1, 64),
    PhysField("class2", StringK, 65522, 1, 64),
    PhysField("class3", StringK, 65523, 1, 64),
    PhysField("class4", StringK, 65524, 1, 64),
    // virtual exporter-identity fields (flow-info.h:19-33, netflow.c:113-144)
    PhysField("dev_ip6", Ip6K, 65501, 16, 16),
    PhysField("dev_id", UIntK, 65502, 8, 8),
    PhysField("dev_mark", UIntK, 65503, 4, 4),
    PhysField("sampling_rate", UIntK, 65504, 4, 4)
  )

  /** Spark StructType of a decoded flow. First column is the collector
    * receive time (reference netflow.c:797-802) — the engine's event time. */
  val schema: StructType = StructType(
    StructField("ts", TimestampType, nullable = false) +:
      physFields.map(f => StructField(f.name, f.sparkType, nullable = true))
  )

  /** Logical dimension kinds (reference filter.def TYPE column). */
  sealed trait LKind
  case object RangeL  extends LKind // integer, supports ranges + value lists
  case object Addr4L  extends LKind // IPv4, supports CIDR + list names
  case object Addr6L  extends LKind // IPv6
  case object MacL    extends LKind
  case object StringL extends LKind

  /** One logical queryable dimension: name → (src column, dst column).
    * An unprefixed use in the DSL means "src OR dst"
    * (reference CONFIG.md:298, filter.c:328-337). */
  final case class LogicalField(name: String, kind: LKind,
                                srcCol: String, dstCol: String)

  /** Mirrors reference filter.def:2-37 one-to-one. */
  val logicalFields: Seq[LogicalField] = Seq(
    LogicalField("host", Addr4L, "ip4_src_addr", "ip4_dst_addr"),
    LogicalField("net", Addr4L, "ip4_src_addr", "ip4_dst_addr"),
    LogicalField("host6", Addr6L, "ip6_src_addr", "ip6_dst_addr"),
    LogicalField("net6", Addr6L, "ip6_src_addr", "ip6_dst_addr"),
    LogicalField("port", RangeL, "l4_src_port", "l4_dst_port"),
    LogicalField("proto", RangeL, "protocol", "protocol"),
    LogicalField("tos", RangeL, "src_tos", "dst_tos"),
    LogicalField("tcp-flags", RangeL, "tcp_flags", "tcp_flags"),
    LogicalField("ifidx", RangeL, "input_snmp", "output_snmp"),
    LogicalField("as", RangeL, "src_as", "dst_as"),
    LogicalField("min-ttl", RangeL, "min_ttl", "min_ttl"),
    LogicalField("max-ttl", RangeL, "max_ttl", "max_ttl"),
    LogicalField("frag-id", RangeL, "frag_id", "frag_id"),
    LogicalField("mac", MacL, "src_mac", "dst_mac"),
    LogicalField("vlan", RangeL, "src_vlan", "dst_vlan"),
    LogicalField("endreason", RangeL, "flow_end_reason", "flow_end_reason"),
    LogicalField("d1qvlan", RangeL, "src_dot1q_vlan", "dst_dot1q_vlan"),
    LogicalField("d1qcvlan", RangeL, "src_dot1q_cvlan", "dst_dot1q_cvlan"),
    LogicalField("bgp-nh", Addr4L, "bgp_next_hop", "bgp_next_hop"),
    LogicalField("dir", RangeL, "direction", "direction"),
    LogicalField("fwdst", RangeL, "fwd_status", "fwd_status"),
    LogicalField("smplr", RangeL, "sampler_id", "sampler_id"),
    LogicalField("vrf", RangeL, "ingrs_vrf", "egrs_vrf"),
    LogicalField("vashost", StringL, "vas_http_host", "vas_http_host"),
    LogicalField("dev-ip", Addr4L, "dev_ip", "dev_ip"),
    LogicalField("dev-ip6", Addr6L, "dev_ip6", "dev_ip6"),
    LogicalField("dev-id", RangeL, "dev_id", "dev_id"),
    LogicalField("dev-mark", RangeL, "dev_mark", "dev_mark"),
    LogicalField("class0", StringL, "class0", "class0"),
    LogicalField("class1", StringL, "class1", "class1"),
    LogicalField("class2", StringL, "class2", "class2"),
    LogicalField("class3", StringL, "class3", "class3"),
    LogicalField("class4", StringL, "class4", "class4"),
    LogicalField("dns-name", StringL, "dns_name", "dns_name"),
    LogicalField("dns-ips", StringL, "dns_ips", "dns_ips"),
    LogicalField("sni", StringL, "sni", "sni")
  )

  /** One aggregable measure: SUM(column × scale × sampling_rate)
    * (reference filter-ag.def:2-8, update at monit-objects.c:988-997). */
  final case class Measure(name: String, col: String, scale: Long)

  val measures: Seq[Measure] = Seq(
    Measure("octets", "in_bytes", 1),
    Measure("bits", "in_bytes", 8),
    Measure("packets", "in_pkts", 1),
    Measure("ioctets", "ioctets", 1),
    Measure("roctets", "roctets", 1),
    Measure("ipackets", "ipackets", 1),
    Measure("rpackets", "rpackets", 1)
  )
}
