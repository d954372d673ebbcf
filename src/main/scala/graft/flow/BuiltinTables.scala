package graft.flow

import graft.functions.{GeoDb, GeoLoader, IpList, Lpm}

/** Deterministic built-in lookup tables for the test/query surface.
  *
  * The reference ships GeoIP/AS databases as external mmap'd files built
  * by xemkgeodb from public CSV dumps (reference geoip.c,
  * EXTRA.md:278-292) and IP lists as config files (CONFIG.md:471-481).
  * The geo/AS data below is kept in exactly those dump formats and goes
  * through the production loader ([[GeoLoader]]) — the driver-checked
  * queries exercise the real load path on a reproducible database.
  */
object BuiltinTables {

  /** Geo dump over the test flow's 192.0.0.0/8 destination space
    * (ipapi format: ver,first,last,continent,cc,country,state,city,zip,
    * tz,lat,long), including a nested finer range so LPM precedence is
    * actually exercised. */
  val geoCsv: String =
    """# synthetic geo dump (ip-api.com format, xemkgeodb.c:292-360)
      |4,192.0.0.0,192.63.255.255,EU,DE,Germany,BY,Munich,80331,Europe/Berlin,48.14,11.58
      |4,192.64.0.0,192.127.255.255,NA,US,USA,CA,San Jose,95113,America/Los_Angeles,37.34,-121.89
      |4,192.128.0.0,192.191.255.255,AS,JP,Japan,13,Tokyo,100-0001,Asia/Tokyo,35.68,139.77
      |4,192.192.0.0,192.255.255.255,SA,BR,Brazil,SP,Sao Paulo,01000-000,America/Sao_Paulo,-23.55,-46.63
      |# finer override inside the de /10 → LPM must pick this one
      |4,192.0.2.0,192.0.2.255,EU,FR,France,IDF,Paris,75001,Europe/Paris,48.86,2.35
      |# sources (10.0.0.0/8 space)
      |4,10.0.0.0,10.255.255.255,EU,NL,Netherlands,NH,Amsterdam,1011,Europe/Amsterdam,52.37,4.90
      |# v6 rows: the flow view embeds the v4 test addresses NAT64-style at
      |# 2001:db8::/96 (src) and 2001:db8:1::/96 (dst) — same geo layout
      |6,2001:db8:1::c000:0,2001:db8:1::c03f:ffff,EU,DE,Germany,BY,Munich,80331,Europe/Berlin,48.14,11.58
      |6,2001:db8:1::c040:0,2001:db8:1::c07f:ffff,NA,US,USA,CA,San Jose,95113,America/Los_Angeles,37.34,-121.89
      |6,2001:db8:1::c080:0,2001:db8:1::c0bf:ffff,AS,JP,Japan,13,Tokyo,100-0001,Asia/Tokyo,35.68,139.77
      |6,2001:db8:1::c0c0:0,2001:db8:1::c0ff:ffff,SA,BR,Brazil,SP,Sao Paulo,01000-000,America/Sao_Paulo,-23.55,-46.63
      |# finer v6 override (192.0.2.0/24 embedded) → LPM must pick this one
      |6,2001:db8:1::c000:200,2001:db8:1::c000:2ff,EU,FR,France,IDF,Paris,75001,Europe/Paris,48.86,2.35
      |6,2001:db8::a00:0,2001:db8::aff:ffff,EU,NL,Netherlands,NH,Amsterdam,1011,Europe/Amsterdam,52.37,4.90
      |""".stripMargin

  /** AS dump over the 10.0.0.0/12 source space
    * (first,last,asn,description). */
  val asCsv: String =
    """10.0.0.0,10.3.255.255,64500,EXAMPLE-NET-A
      |10.4.0.0,10.7.255.255,64501,EXAMPLE-NET-B
      |10.8.0.0,10.11.255.255,64502,EXAMPLE-NET-C
      |10.12.0.0,10.15.255.255,64503,EXAMPLE-NET-D
      |2001:db8::a00:0,2001:db8::a03:ffff,64600,EXAMPLE6-NET-A
      |2001:db8::a04:0,2001:db8::a07:ffff,64601,EXAMPLE6-NET-B
      |2001:db8::a08:0,2001:db8::a0b:ffff,64602,EXAMPLE6-NET-C
      |2001:db8::a0c:0,2001:db8::a0f:ffff,64603,EXAMPLE6-NET-D
      |""".stripMargin

  /** Same data as prefix literals — kept for the loader-equivalence
    * spec (continent/cc lowercased the way the loader does). */
  val geoPrefixes: Seq[Lpm.Prefix] = Seq(
    Lpm.prefix("192.0.0.0/10",
      GeoDb.record("eu", "de", "Germany", "BY", "Munich", "80331",
        "48.14", "11.58")),
    Lpm.prefix("192.64.0.0/10",
      GeoDb.record("na", "us", "USA", "CA", "San Jose", "95113",
        "37.34", "-121.89")),
    Lpm.prefix("192.128.0.0/10",
      GeoDb.record("as", "jp", "Japan", "13", "Tokyo", "100-0001",
        "35.68", "139.77")),
    Lpm.prefix("192.192.0.0/10",
      GeoDb.record("sa", "br", "Brazil", "SP", "Sao Paulo", "01000-000",
        "-23.55", "-46.63")),
    Lpm.prefix("192.0.2.0/24",
      GeoDb.record("eu", "fr", "France", "IDF", "Paris", "75001",
        "48.86", "2.35")),
    Lpm.prefix("10.0.0.0/8",
      GeoDb.record("eu", "nl", "Netherlands", "NH", "Amsterdam", "1011",
        "52.37", "4.90"))
  )

  /** AS records as prefix literals (asn|description), for the same
    * equivalence spec. */
  val asPrefixes: Seq[Lpm.Prefix] = Seq(
    Lpm.prefix("10.0.0.0/14", "64500|EXAMPLE-NET-A"),
    Lpm.prefix("10.4.0.0/14", "64501|EXAMPLE-NET-B"),
    Lpm.prefix("10.8.0.0/14", "64502|EXAMPLE-NET-C"),
    Lpm.prefix("10.12.0.0/14", "64503|EXAMPLE-NET-D")
  )

  lazy val geoDb: GeoDb = GeoLoader.geoDb(geoCsv, asCsv)

  /** Standard IP lists (bogon per RFC 1918 + friends). */
  lazy val ipLists: Map[String, IpList] = Map(
    "bogon" -> IpList("bogon", Seq(
      "0.0.0.0/8", "10.0.0.0/8", "100.64.0.0/10", "127.0.0.0/8",
      "169.254.0.0/16", "172.16.0.0/12", "192.0.2.0/24", "192.168.0.0/16",
      "198.18.0.0/15", "::/8", "fc00::/7", "fe80::/10")),
    "testdst" -> IpList("testdst", Seq("192.0.0.0/12", "192.32.0.0/13")),
    // v6 list over the NAT64-embedded dst space: one coarse /106
    // (= 192.0.0.0/10 embedded) + one finer disjoint /112
    // (= 192.168.0.0/16 embedded) — exercises the sweep's merge
    "docs6" -> IpList("docs6",
      Seq("2001:db8:1::c000:0/106", "2001:db8:1::c0a8:0/112")))

  /** IANA protocol names used for class naming (reference
    * STEP-BY-STEP.md:754-765 does this downstream via a dim join). */
  val protoNames: Map[Long, String] =
    Map(1L -> "icmp", 6L -> "tcp", 17L -> "udp")
}
