package graft

import graft.functions.Lpm
import graft.operators.Mavg
import graft.streaming.AlertMachine
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks of the algorithmic cores against naive models
  * (raw ScalaCheck generators with deterministic seeded sampling — the
  * scalatest bridge artifact is not in the offline cache). */
class PropertySpec extends SparkTest {

  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    var seed = Seed(42L)
    (1 to n).flatMap { _ =>
      val r = g.apply(Gen.Parameters.default, seed)
      seed = seed.next
      r
    }
  }

  test("BoundedTopK.smallestK equals sort-take-k on random groups " +
    "for random k, across partition counts") {
    import graft.functions.BoundedTopK
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    for (trial <- 1 to 5) {
      val k = 1 + rnd.nextInt(6)
      val rows = Seq.fill(200 + rnd.nextInt(200))(
        (rnd.nextInt(7).toLong, rnd.nextInt(40).toLong - 20L))
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).sorted.take(k)
      }
      val got = rows.toDF("g", "v")
        .repartition(1 + rnd.nextInt(5))
        .groupBy(org.apache.spark.sql.functions.col("g"))
        .agg(BoundedTopK.smallestK(k)(
          org.apache.spark.sql.functions.col("v")).as("ks"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      assert(got == want, s"trial $trial k=$k: got $got want $want")
    }
  }

  test("Lpm.build equals naive longest-prefix scan for random prefixes") {
    val genPrefix = for {
      addr <- Gen.chooseNum(0L, (1L << 32) - 1)
      len <- Gen.chooseNum(1, 32)
    } yield {
      val span = 1L << (32 - len)
      val start = (addr / span) * span
      Lpm.Prefix(BigInt(start), BigInt(start + span - 1), len,
        s"$start/$len")
    }
    samples(Gen.zip(Gen.listOfN(12, genPrefix), Gen.listOfN(40,
      Gen.chooseNum(0L, (1L << 32) - 1))), 15).foreach { case (prefixes, ips) =>
      val table = Lpm.build(prefixes)
      ips.foreach { ip =>
        val naive = prefixes
          .filter(p => p.start <= ip && p.end >= ip)
          .sortBy(-_.maskLen).headOption.map(_.value)
        assert(table.lookup(BigInt(ip)) == naive,
          s"ip=$ip prefixes=$prefixes")
      }
    }
  }

  test("Lpm6Packed.lookup equals the BigInt reference for random v6 " +
    "prefixes and addresses (two-long unsigned-128 search)") {
    import graft.functions.Lpm6Packed
    // bias generation toward the hi/lo boundary and high-bit regions
    // where signed/unsigned and carry bugs live
    val genAddr: Gen[BigInt] = Gen.oneOf(
      Gen.listOfN(16, Gen.chooseNum(0, 255))
        .map(bs => BigInt(1, bs.map(_.toByte).toArray)),
      Gen.chooseNum(-4L, 4L).map(d => (BigInt(1) << 64) + d),
      Gen.chooseNum(0L, 255L).map(d => (BigInt(1) << 127) + d))
    val genPrefix = for {
      addr <- genAddr
      len <- Gen.chooseNum(1, 128)
    } yield {
      val span = BigInt(1) << (128 - len)
      val start = (addr / span) * span
      Lpm.Prefix(start, start + span - 1, len, s"p$len")
    }
    samples(Gen.zip(Gen.listOfN(10, genPrefix),
      Gen.listOfN(30, genAddr)), 12).foreach { case (prefixes, addrs) =>
      val table = Lpm.build(prefixes)
      val packed = Lpm6Packed(table)
      addrs.foreach { a =>
        val bytes = {
          val raw = a.toByteArray.takeRight(16)
          Array.fill[Byte](16 - raw.length)(0) ++ raw
        }
        val expected = table.lookup(a).orNull
        val got = Option(Lpm6Packed.lookup(packed, bytes))
          .map(_.toString).orNull
        assert(got == expected, s"addr=$a prefixes=$prefixes")
      }
    }
  }

  test("xdivL equals naive largest-power-of-k for random inputs") {
    import org.apache.spark.sql.functions.lit
    // evaluate the expression in one batch per sample set (fast path)
    samples(Gen.listOfN(8, for {
      a <- Gen.chooseNum(0L, 1000000L)
      b <- Gen.chooseNum(0L, 1000L)
      k <- Gen.oneOf(2L, 10L, 16L)
    } yield (a, b, k)), 3).foreach { cases =>
      cases.foreach { case (a, b, k) =>
        val expected =
          if (b == 0 || a / b == 0) 0L
          else {
            var p = 1L
            while (p * k <= a / b && p <= Long.MaxValue / k) p *= k
            p
          }
        val got = spark.range(1)
          .select(graft.functions.NetFns.xdivL(lit(a), lit(b), k))
          .collect()(0).getLong(0)
        assert(got == expected, s"a=$a b=$b k=$k")
      }
    }
  }

  test("mavg scalar trace: value stays within [0, running max V·window]") {
    val genEvents = Gen.listOfN(30, for {
      dt <- Gen.chooseNum(0L, 20L)
      v <- Gen.chooseNum(0L, 1000L)
    } yield (dt, v))
    samples(genEvents, 30).foreach { deltas =>
      var t = 0L
      val events = deltas.map { case (dt, v) => t += dt; (t, v) }
      val trace = Mavg.scalarTrace(events, windowSec = 10L)
      trace.foreach(n => assert(n >= 0.0))
      // each step: N' ≤ N + V (decay only shrinks)
      trace.zip(events).zipWithIndex.foreach { case ((n, (_, v)), i) =>
        val prev = if (i == 0) 0.0 else trace(i - 1)
        assert(n <= prev + v + 1e-9, s"step $i grew beyond N+V")
      }
    }
  }

  test("repetitionMetrics equals a sequential n-gram count model on " +
    "random corpora") {
    import graft.operators.TextAnalysis
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val genDoc = Gen.chooseNum(0, 25).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "ee")))
    samples(Gen.listOfN(40, genDoc), 3).foreach { docsToks =>
      val rows = docsToks.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" ")) }
      val df = spark.createDataFrame(
        rows.map { case (i, t) => Row(i, t) }.asJava,
        StructType(Seq(StructField("doc_id", LongType, false),
          StructField("text", StringType, false))))
      val got = TextAnalysis.repetitionMetrics(df, "doc_id", "text", 2)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      rows.foreach { case (id, text) =>
        // model mirrors Dedup.shingles' raw split semantics
        val toks = text.split(" ", -1).toSeq
        val grams =
          if (toks.size < 2) Seq.empty
          else toks.sliding(2).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.size)
        val n = grams.size.toLong
        val expected =
          if (n == 0) (0L, 0L, 0L)
          else {
            val top = counts.values.max.toLong
            val dup = counts.values.filter(_ > 1).map(_.toLong).sum
            (n, math.floor(10000.0 * top / n).toLong,
              math.floor(10000.0 * dup / n).toLong)
          }
        assert(got(id) == expected, s"doc $id '$text'")
      }
    }
  }

  test("mixSample: nested samples and exact per-group rate semantics " +
    "for random rates") {
    import graft.operators.Curation
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val ids = (0L until 300L)
    val df = spark.createDataFrame(
      ids.map(i => Row(i, s"g${i % 3}")).asJava,
      StructType(Seq(StructField("id", LongType, false),
        StructField("grp", StringType, false))))
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(4, 10), 16) % 10000
    }
    samples(Gen.zip(Gen.chooseNum(0L, 10000L), Gen.chooseNum(0L, 10000L)),
      4).foreach { case (rA, rB) =>
      val (lo, hi) = (math.min(rA, rB), math.max(rA, rB))
      def run(r: Long) = Curation.mixSample(df, "id", "grp",
          Map("g0" -> r), defaultBp = 0L)
        .select("id").collect().map(_.getLong(0)).toSet
      val (sLo, sHi) = (run(lo), run(hi))
      assert(sLo.subsetOf(sHi), s"nesting violated at $lo/$hi")
      // exact semantics: admitted iff group rate beats the md5 bucket
      val expected = ids.filter(i => i % 3 == 0 && bucket(i) < hi).toSet
      assert(sHi == expected, s"rate $hi")
    }
  }

  test("ip6Compressed round-trips through InetAddress for random " +
    "zero-run-structured addresses") {
    import graft.functions.NetFns.ip6Compressed
    // bias toward addresses with zero runs (the interesting cases)
    val genAddr: Gen[Array[Byte]] = for {
      groups <- Gen.listOfN(8, Gen.frequency(
        3 -> Gen.const(0),
        1 -> Gen.chooseNum(0, 0xffff)))
    } yield groups.flatMap(g =>
      Seq(((g >> 8) & 0xff).toByte, (g & 0xff).toByte)).toArray
    samples(genAddr, 300).foreach { b =>
      val s = ip6Compressed(b)
      // parse back: the compressed form must denote the same 16 bytes
      val parsed = java.net.InetAddress.getByName(s).getAddress
      assert(parsed.toSeq == b.toSeq, s"$s")
      // RFC 5952: lowercase, no leading zeros, at most one "::"
      assert(s == s.toLowerCase)
      assert(!s.split("::", -1).exists(_.split(":")
        .exists(g => g.length > 1 && g.startsWith("0"))), s)
      assert(s.sliding(3).count(_ == ":::") == 0 &&
        s.split("::", -1).length <= 2, s)
    }
  }

  test("fitDims: never upscales, fits the box, preserves aspect " +
    "ordering, and is exact for box multiples") {
    import graft.operators.Multimodal.fitDims
    val gen = for {
      w <- Gen.chooseNum(1, 10000)
      h <- Gen.chooseNum(1, 10000)
      box <- Gen.chooseNum(1, 512)
    } yield (w, h, box)
    samples(gen, 500).foreach { case (w, h, box) =>
      val (tw, th) = fitDims(w, h, box)
      assert(tw >= 1 && th >= 1, s"($w,$h,$box)")
      assert(tw <= math.max(w, box) && th <= math.max(h, box))
      assert(tw <= box && th <= box || (w <= box && h <= box),
        s"($w,$h,$box) -> ($tw,$th)")
      assert(tw <= w && th <= h, s"never upscale: ($w,$h,$box)")
      // aspect ordering preserved
      assert((w >= h) == (tw >= th) || tw == th, s"($w,$h,$box)")
      // exact for clean multiples
      if (w % box == 0 && h == w) assert(tw == box && th == box)
    }
  }

  test("VecDotExpr / LshSignatureExpr are bit-identical to the " +
    "higher-order forms on random vectors (incl. specials)") {
    import graft.operators.Similarity
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val genVal: Gen[Float] = Gen.frequency(
      8 -> Gen.chooseNum(-1000, 1000).map(_ / 333.0f),
      1 -> Gen.oneOf(0.0f, -0.0f, Float.MinPositiveValue,
        1e30f, -1e30f, Float.NaN))
    val genPair = for {
      n <- Gen.chooseNum(0, 130)
      // mostly equal lengths (the real case); sometimes mismatched
      m <- Gen.frequency(5 -> Gen.const(n), 1 -> Gen.chooseNum(0, 130))
      a <- Gen.listOfN(n, genVal)
      b <- Gen.listOfN(m, genVal)
    } yield (a, b)
    val rows = samples(genPair, 60).zipWithIndex.map { case ((a, b), i) =>
      Row(i.toLong, a.map(java.lang.Float.valueOf).asJava,
        b.map(java.lang.Float.valueOf).asJava)
    }
    val df = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType, false),
      StructField("a", ArrayType(FloatType, true), true),
      StructField("b", ArrayType(FloatType, true), true))))
    val out = df.select(col("id"),
      Similarity.dot(col("a"), col("b")).as("dn"),
      Similarity.dotHof(col("a"), col("b")).as("dh"),
      Similarity.lshSignature(col("a"), 16, 24).as("sn"),
      Similarity.lshSignatureHof(col("a"), 16, 24).as("sh"))
      .collect()
    out.foreach { r =>
      val (dn, dh) = (r.get(1), r.get(2))
      assert((dn == null) == (dh == null),
        s"dot nullness id ${r.getLong(0)}: $dn vs $dh")
      if (dn != null)
        // raw-bits compare (NaN == NaN is false numerically, but the
        // two forms must produce the IDENTICAL bit pattern)
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          s"dot bits id ${r.getLong(0)}: $dn vs $dh")
      assert(r.getLong(3) == r.getLong(4), s"sig id ${r.getLong(0)}")
    }
  }

  test("TemplateCache: floor lookups are independent of announcement " +
    "arrival order for random revision histories") {
    import graft.sources.NetflowDecoder
    import graft.sources.NetflowDecoder.Template
    val genTemplate: Gen[Template] = for {
      nf <- Gen.chooseNum(1, 5)
      fields <- Gen.listOfN(nf, Gen.zip(
        Gen.chooseNum(1, 64), Gen.oneOf(1, 2, 4, 8)))
    } yield Template(fields.map { case (f, l) => (f, l, 0L) })
    val genAnnouncements = Gen.listOfN(10, Gen.zip(
      Gen.chooseNum(100L, 110L), genTemplate)) // dense epochs → conflicts
    samples(genAnnouncements, 40).foreach { anns =>
      val c1 = new NetflowDecoder.TemplateCache
      anns.foreach { case (e, t) => c1.put(1L, 1L, 9, 256, e, t) }
      val c2 = new NetflowDecoder.TemplateCache
      // deterministic non-trivial reorder: reversed + rotated
      val reordered = {
        val r = anns.reverse
        r.drop(3) ++ r.take(3)
      }
      reordered.foreach { case (e, t) => c2.put(1L, 1L, 9, 256, e, t) }
      (95L to 115L).foreach { ts =>
        assert(c1.get(1L, 1L, 9, 256, ts) == c2.get(1L, 1L, 9, 256, ts),
          s"ts=$ts anns=$anns")
      }
    }
  }

  test("alert machine: Started and Ended strictly alternate per key") {
    val genOps = Gen.listOfN(40, for {
      isBreach <- Gen.prob(0.4)
      dtNs <- Gen.chooseNum(1L, 5_000_000_000L)
      v <- Gen.chooseNum(100.0, 1000.0)
    } yield (isBreach, dtNs, v))
    samples(genOps, 30).foreach { ops =>
      var st: Option[AlertMachine.LimState] = None
      var now = 0L
      var depth = 0 // 0 = no active alert, 1 = active
      ops.foreach { case (isBreach, dt, v) =>
        now += dt
        if (isBreach) {
          st = Some(AlertMachine.onBreach(st, now, v, 100.0,
            10_000_000_000L))
        }
        st.foreach { s =>
          val (s2, evs) = AlertMachine.onTick(s, now, 5_000_000_000L,
            isOver = true)
          st = Some(s2)
          evs.foreach {
            case AlertMachine.Started(_, _) =>
              assert(depth == 0, "Started while already active")
              depth = 1
            case AlertMachine.Ended(_) =>
              assert(depth == 1, "Ended without active alert")
              depth = 0
            case AlertMachine.Updated(_) =>
              assert(depth == 1, "Updated without active alert")
          }
        }
      }
    }
  }

  // ---- decoder fuzz: packet bytes are UNTRUSTED NETWORK INPUT and the
  // contract is skip-malformed, never throw. Three input classes per
  // decoder: pure random bytes, random bytes behind a valid version
  // prefix (reaches the per-version paths), and valid packets mutated
  // by truncation + byte flips (reaches the deepest parse states).

  private def mutations(valid: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(42)
    valid.flatMap { p =>
      val trunc = (0 until 4).map(_ => p.take(rnd.nextInt(p.length + 1)))
      val flips = (0 until 4).map { _ =>
        val c = p.clone()
        (0 until (1 + rnd.nextInt(8))).foreach { _ =>
          c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte }
        c
      }
      trunc ++ flips
    }
  }

  test("NetflowDecoder.decodePacket never throws on fuzzed input " +
    "(random, version-prefixed random, mutated v5/v9/IPFIX)") {
    import graft.sources.NetflowDecoder
    val rnd = new scala.util.Random(7)
    val random = (1 to 200).map(_ =>
      Array.fill(rnd.nextInt(400))(rnd.nextInt(256).toByte))
    val prefixed = for {
      v <- Seq(5, 9, 10); _ <- 1 to 50
    } yield Array[Byte](0, v.toByte) ++
      Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
    val valid = Queries.v9Packets(8) ++ Queries.v5Packets(8) ++
      Queries.ipfixPackets(8).map(_._1) ++
      (0L until 8L).map(Wire.mkPacket)
    val cache = new NetflowDecoder.TemplateCache()
    (random ++ prefixed ++ mutations(valid)).foreach { p =>
      NetflowDecoder.decodePacket(p, 1700000000L, 1L, cache)
    }
  }

  test("SflowDecoder.decodePacket never throws on fuzzed input, with " +
    "payload extraction enabled") {
    import graft.sources.SflowDecoder
    val rnd = new scala.util.Random(11)
    val random = (1 to 200).map(_ =>
      Array.fill(rnd.nextInt(400))(rnd.nextInt(256).toByte))
    val prefixed = (1 to 100).map(_ =>
      Array[Byte](0, 0, 0, 5) ++
        Array.fill(rnd.nextInt(300))(rnd.nextInt(256).toByte))
    val valid = Queries.sflowPackets(8) ++
      Queries.sflowPayloadPackets(8)
    (random ++ prefixed ++ mutations(valid)).foreach { p =>
      SflowDecoder.decodePacket(p, 1700000000L,
        parseDns = true, parseSni = true)
    }
  }

  test("PayloadParsers never throw on arbitrary bytes") {
    import graft.sources.PayloadParsers
    val rnd = new scala.util.Random(13)
    (1 to 500).foreach { _ =>
      val b = Array.fill(rnd.nextInt(300))(rnd.nextInt(256).toByte)
      PayloadParsers.parseDns(b)
      PayloadParsers.parseSni(b)
    }
  }

  test("filter DSL compiler returns Left, never throws, on fuzzed " +
    "expressions (random tokens + mutated valid filters)") {
    import graft.filter.{Compiler, FilterEnv}
    val env = FilterEnv.flow(spark)
    val rnd = new scala.util.Random(23)
    val tokens = Seq("src", "dst", "host", "net", "port", "proto", "and",
      "or", "not", "(", ")", "10.0.0.0/8", "2001:db8::/32", "443",
      "0..100", "div", "#", "\"", "~", "9999999999999999999999", "",
      "net6", "..", "-1", "0x", "list", "%", "\\", " ")
    val garbage = (1 to 300).map(_ =>
      (1 to rnd.nextInt(12)).map(_ => tokens(rnd.nextInt(tokens.size)))
        .mkString(" "))
    val valid = Seq("proto 6 and src net 10.0.0.0/8",
      "port 443 or port 80", "not dst host 192.0.2.1")
    val mutated = valid.flatMap { f => (1 to 20).map { _ =>
      val c = f.toCharArray
      c(rnd.nextInt(c.length)) = (32 + rnd.nextInt(95)).toChar
      new String(c)
    }}
    (garbage ++ mutated).foreach { f =>
      Compiler.filterColumn(f, env) // Either — both sides acceptable
    }
  }

  test("multimodal byte parsers never throw on fuzzed input " +
    "(random + mutated real containers)") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(17)
    val random = (1 to 150).map(_ =>
      Array.fill(rnd.nextInt(500))(rnd.nextInt(256).toByte))
    val valid = (0L until 4L).flatMap(i => Seq(
      Multimodal.encodeTestImage(i), Multimodal.encodeTestAudio(i),
      Multimodal.encodeTestVideo(i),
      Multimodal.encodeTestVideoSamples(i),
      Multimodal.encodeTestVideoSamplesTimed(i)))
    (random ++ mutations(valid)).foreach { b =>
      Multimodal.decodeImage(b)
      Multimodal.decodeAudio(b)
      Multimodal.decodeVideo(b)
      Multimodal.resizeImage(b, 32)
      Multimodal.imageChannelSums(b)
      Multimodal.mp4SampleFrames(b, stride = 2)
      Multimodal.mp4SampleFramesByTime(b, everyMs = 40)
    }
  }

  test("AlertTimeline.replay is partitioning- and row-order-invariant " +
    "(random series, random limits, 1 vs 7 partitions)") {
    import graft.operators.AlertTimeline
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(29L)
    val nTicks = 40
    val rows = (0 until 4).flatMap { k =>
      val lim = 50L + rnd.nextInt(100)
      (0 until 60).map { _ =>
        Seq(k.toLong, rnd.nextInt(nTicks).toLong,
          rnd.nextInt(60).toLong, lim)
      }
    }
    def run(rs: Seq[Seq[Long]], parts: Int): Seq[(Long, Long, String,
        Double)] =
      AlertTimeline.replay(
        flowDf(Seq("k", "i", "v", "lim"), rs).repartition(parts),
        "k", "i", "v", "lim", nTicks = nTicks)
        .orderBy(col("key"), col("t")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).toSeq
    val base = run(rows, 1)
    assert(base.nonEmpty, "generator should produce some alerts")
    assert(run(rnd.shuffle(rows), 7) == base,
      "shuffled rows + different partitioning must replay identically")
  }

  test("wire decoders never throw on fuzzed input (random bytes + " +
    "mutated real v5/v9/IPFIX/sFlow packets + payload parsers)") {
    import graft.sources.{NetflowDecoder, PayloadParsers, SflowDecoder}
    val rnd = new scala.util.Random(23)
    val random = (1 to 200).map(_ =>
      Array.fill(rnd.nextInt(400))(rnd.nextInt(256).toByte))
    val valid = Queries.v9Packets(8)
    val all = random ++ valid ++ mutations(valid)
    val cache = new NetflowDecoder.TemplateCache
    all.foreach { b =>
      NetflowDecoder.decodePacket(b, 100L, 9L, cache) // wire edge: must
      SflowDecoder.decodePacket(b, 100L)              // tolerate hostile
      PayloadParsers.parseDns(b)                      // bytes, not throw
      PayloadParsers.parseSni(b)
    }
  }

  test("bloomContamination: n_contam equals ngramOverlap's exact count " +
    "and n_maybe dominates it, for random corpora and filter sizes") {
    import graft.operators.Contamination
    import org.apache.spark.sql.functions.{col, element_at, typedLit}
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val genDoc = Gen.listOfN(6, Gen.oneOf(words)).map(_.mkString(" "))
    val genCase = for {
      corpus <- Gen.listOfN(8, genDoc)
      bench <- Gen.listOfN(3, genDoc)
      k <- Gen.chooseNum(1, 4)
      mExp <- Gen.chooseNum(6, 12) // m = 64 .. 4096: spans saturation
    } yield (corpus, bench, k, 1 << mExp)
    samples(genCase, 6).foreach { case (corpus, bench, k, m) =>
      val cdf = flowDf(Seq("doc_id"), corpus.indices.map(i => Seq(i.toLong)))
        .withColumn("text",
          element_at(typedLit(corpus), col("doc_id").cast("int") + 1))
      val bdf = flowDf(Seq("doc_id"), bench.indices.map(i => Seq(100L + i)))
        .withColumn("text",
          element_at(typedLit(bench), (col("doc_id") - 100).cast("int") + 1))
      val bloom = Contamination.bloomContamination(cdf, bdf, "doc_id",
          "text", 2, k, m)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val exact = Contamination.ngramOverlap(cdf, bdf, "doc_id", "text", 2)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      exact.foreach { case (id, nContam) =>
        val (nMaybe, nConf) = bloom(id)
        assert(nConf == nContam, s"id=$id k=$k m=$m")
        assert(nMaybe >= nConf, s"id=$id k=$k m=$m")
      }
    }
  }

  test("bpeMerges equals a sequential in-memory BPE for random corpora") {
    import graft.operators.TextAnalysis
    val genWord = Gen.chooseNum(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val genDoc = Gen.listOfN(6, genWord).map(_.mkString(" "))
    samples(Gen.listOfN(5, genDoc), 5).foreach { corpus =>
      // sequential reference: word freqs → iterate (count pairs, pick
      // max-count lexicographic-min pair, leftmost non-overlap merge)
      var words: Map[Vector[String], Long] = corpus
        .flatMap(_.split(" ").filter(_.nonEmpty))
        .groupBy(identity).view
        .mapValues(_.size.toLong).toMap
        .map { case (w, f) => w.map(_.toString).toVector -> f }
      def mergeWord(w: Vector[String], l: String, r: String) =
        w.foldLeft(Vector.empty[String]) { (acc, s) =>
          if (acc.nonEmpty && acc.last == l && s == r)
            acc.init :+ (l + r)
          else acc :+ s
        }
      val expect = Seq.newBuilder[(Long, String, String, Long)]
      var step = 1
      var stop = false
      while (step <= 5 && !stop) {
        val pairs = words.toSeq.flatMap { case (w, f) =>
          w.zip(w.drop(1)).map(p => p -> f)
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        if (pairs.isEmpty) stop = true
        else {
          val ((l, r), cnt) = pairs.toSeq
            .sortBy { case ((l, r), c) => (-c, l, r) }.head
          expect += ((step.toLong, l, r, cnt))
          words = words.toSeq
            .map { case (w, f) => mergeWord(w, l, r) -> f }
            .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          step += 1
        }
      }
      val df = flowDf(Seq("doc_id"), corpus.indices.map(i => Seq(i.toLong)))
        .withColumn("text", org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.typedLit(corpus),
          org.apache.spark.sql.functions.col("doc_id").cast("int") + 1))
      val got = TextAnalysis.bpeMerges(df, "text", 5)
        .orderBy(org.apache.spark.sql.functions.col("step"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
      assert(got == expect.result(), s"corpus=$corpus")
    }
  }

  test("AsOfJoin: both paths equal the naive per-fact scan on random " +
    "facts/versions (ties, tolerance, unmatched keys)") {
    import graft.operators.AsOfJoin
    // small domains force collisions: duplicate version times per key,
    // facts exactly at version times, keys with no versions
    val genFact = Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 20L))
    val genVer = Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 20L),
      Gen.chooseNum(1L, 9L))
    samples(Gen.zip(Gen.listOfN(30, genFact), Gen.listOfN(12, genVer),
      Gen.option(Gen.chooseNum(0L, 8L))), 8)
      .foreach { case (fs, vsRaw, tol) =>
        // the operator's duplicate-(key,time) rule is max payload;
        // keep the naive model aligned by deduping to the max rate
        val vs = vsRaw.groupBy(v => (v._1, v._2))
          .map { case ((k, t), g) => (k, t, g.map(_._3).max) }.toSeq
        val facts = flowDf(Seq("k", "ts"),
          fs.zipWithIndex.map { case ((k, t), i) => Seq(k, t) })
        val vers = flowDf(Seq("k", "vt", "rate"),
          vs.map { case (k, t, r) => Seq(k, t, r) })
        def naive(k: Long, ts: Long): Option[Long] =
          vs.filter(v => v._1 == k && v._2 <= ts)
            .sortBy(v => (v._2, v._3)).lastOption
            .filter(v => tol.forall(ts - v._2 <= _)).map(_._3)
        val exp = fs.map { case (k, ts) => (k, ts, naive(k, ts)) }
          .sorted(Ordering.by((x: (Long, Long, Option[Long])) =>
            (x._1, x._2, x._3.getOrElse(Long.MinValue))))
        for (out <- Seq(
            AsOfJoin.backward(facts, vers, Seq("k"), "ts", "vt", tol),
            AsOfJoin.backwardBroadcast(facts, vers, Seq("k"), "ts",
              "vt", tol))) {
          val got = out.collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1),
              if (r.isNullAt(2)) None else Some(r.getLong(2))))
            .sorted(Ordering.by((x: (Long, Long, Option[Long])) =>
              (x._1, x._2, x._3.getOrElse(Long.MinValue))))
          assert(got == exp, s"facts=$fs vers=$vs tol=$tol")
        }
      }
  }

  test("GFTS template-snapshot codec round-trips arbitrary snapshots " +
    "bit-exactly, and random byte files never parse") {
    import graft.sources.NetflowDecoder
    import graft.sources.NetflowDecoder.{SamplingSnapshotEntry,
      TemplateSnapshotEntry}
    val genField = Gen.zip(Gen.chooseNum(0, 65535),
      Gen.chooseNum(0, 1500), Gen.chooseNum(0L, Long.MaxValue))
    val genTmpl = for {
      src <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      sid <- Gen.chooseNum(0L, 1L << 32)
      ver <- Gen.oneOf(5, 9, 10)
      tid <- Gen.chooseNum(0, 65535)
      epoch <- Gen.chooseNum(0L, 4102444800L)
      isOpt <- Gen.oneOf(true, false)
      nf <- Gen.chooseNum(0, 12)
      fs <- Gen.listOfN(nf, genField)
    } yield TemplateSnapshotEntry(src, sid, ver, tid, epoch, isOpt, fs)
    val genSamp = Gen.zip(Gen.chooseNum(0L, 1L << 32),
      Gen.chooseNum(0L, 255L), Gen.chooseNum(0L, 4102444800L),
      Gen.chooseNum(1L, 1L << 20)).map { case (a, b, c, d) =>
      SamplingSnapshotEntry(a, b, c, d) }
    val dir = java.nio.file.Files.createTempDirectory("gfts_prop")
    val conf = new org.apache.hadoop.conf.Configuration()
    samples(Gen.zip(Gen.listOfN(6, genTmpl), Gen.listOfN(4, genSamp)),
        20).zipWithIndex.foreach { case ((ts, ss), i) =>
      // round-trip through a REAL cache: save serializes whatever the
      // cache's snapshot() yields, load must restore it identically
      val c = new NetflowDecoder.TemplateCache()
      c.restore(NetflowDecoder.TemplateSnapshot(ts, ss))
      val f = new org.apache.hadoop.fs.Path(
        dir.resolve(s"prop$i.tmpl").toUri)
      NetflowDecoder.saveTemplates(c, conf, f)
      val back = NetflowDecoder.loadTemplates(conf, f)
      assert(back.isDefined, s"case $i failed to load")
      val c2 = new NetflowDecoder.TemplateCache()
      c2.restore(back.get)
      // canonical comparison: both caches' snapshots, sorted
      def canon(s2: NetflowDecoder.TemplateSnapshot) =
        (s2.templates.sortBy(t => (t.src, t.sourceId, t.ver, t.tid,
          t.epoch, t.isOptions, t.fields.mkString)),
          s2.sampling.sortBy(x => (x.src, x.sourceId, x.epoch, x.rate)))
      assert(canon(c2.snapshot()) == canon(c.snapshot()), s"case $i")
    }
    // fuzz: random bytes (any length, any content) must never parse to
    // Some(...) by accident of the magic check, and never throw
    samples(Gen.zip(Gen.chooseNum(0, 64),
        Gen.chooseNum(Long.MinValue, Long.MaxValue)), 30)
      .foreach { case (len, seed0) =>
        val rnd = new scala.util.Random(seed0)
        val bytes = Array.fill(len)(rnd.nextInt().toByte)
        val f = new java.io.File(dir.toFile, "fuzz.tmpl")
        java.nio.file.Files.write(f.toPath, bytes)
        // only a byte-perfect GFTS v1 header could even begin parsing;
        // random bytes hit the magic/version/count guards -> None
        assert(NetflowDecoder.loadTemplates(conf,
            new org.apache.hadoop.fs.Path(f.toURI)).isEmpty
          || bytes.length >= 12 && bytes.take(8).toSeq ==
            Seq[Byte](0x47, 0x46, 0x54, 0x53, 0, 0, 0, 1))
      }
  }

  test("tokenization contract: tokens(), BPE word split, gopher n_words " +
    "and SpanDedup positions all agree with the single-space model") {
    import graft.functions.BpeEncoder
    import graft.operators.{SpanDedup, TextAnalysis}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.unsafe.types.UTF8String

    // THE contract, as a driver-side model: split on ASCII space ONLY,
    // drop empties — exactly DuckDB's
    // list_filter(string_split(text, ' '), x -> x <> ''), which every
    // oracle tokenizes with. Span positions, token counts, and BPE
    // word boundaries all ride on every implementation agreeing.
    def model(s: String): Seq[String] =
      s.split(" ", -1).toSeq.filter(_.nonEmpty)

    // adversarial raw strings: multi-space runs, leading/trailing
    // space, and NON-split whitespace (tab, newline, CR, NBSP,
    // em-space) that must stay INSIDE tokens, plus an astral
    // (surrogate-pair) char to exercise code-point handling
    val genChar = Gen.frequency(
      6 -> Gen.oneOf('a', 'b', 'c'),
      4 -> Gen.const(' '),
      1 -> Gen.const('\t'),
      1 -> Gen.const('\n'),
      1 -> Gen.const('\r'),
      1 -> Gen.const('\u00A0') /* NBSP */,
      1 -> Gen.const('\u2003') /* em-space */)
    val genText = for {
      n <- Gen.chooseNum(0, 40)
      cs <- Gen.listOfN(n, genChar)
      astral <- Gen.oneOf("", "\uD835\uDCB3") /* astral script X */
    } yield cs.mkString + astral
    val texts = (samples(genText, 120) ++ Seq(
      "", " ", "  ", "a", " a ", "a  b", "\t", " \t ")).distinct

    // 1) TextAnalysis.tokens — one Spark job over every sample
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val gotTokens = df
      .select(col("id"), TextAnalysis.tokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(gotTokens(i.toLong) == model(t),
        s"tokens() vs model on codepoints ${t.map(_.toInt)}") }

    // 2) gopher n_words: same split, as a count
    val nWordsCol = TextAnalysis.gopherRules(col("text"))
      .toMap.apply("n_words")
    val gotN = df.select(col("id"), nWordsCol.as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(gotN(i.toLong) == model(t).size.toLong) }

    // 3) BPE apply's word segmentation (driver-side, no job): with NO
    // merges every model word explodes to its code points in order —
    // any boundary drift would reorder or merge the flattening
    val enc = BpeEncoder(Seq())
    texts.foreach { t =>
      val arr = enc.encodeText(UTF8String.fromString(t))
      val flat = (0 until arr.numElements())
        .map(j => arr.getUTF8String(j).toString)
      val want = model(t).flatMap(w => w.codePoints().toArray.toSeq
        .map(cp => new String(Character.toChars(cp))))
      assert(flat == want,
        s"BPE word split vs model on codepoints ${t.map(_.toInt)}")
    }

    // 4) SpanDedup positions: distinct words (some with embedded
    // non-split whitespace) joined by multi-space runs; an identical
    // doc pair must span exactly (1, model-token-count) — 1-based
    // positions INTO THE MODEL TOKEN LIST, not the raw string
    val genSep = Gen.oneOf(" ", "  ", "   ")
    val genDoc = for {
      k <- Gen.chooseNum(2, 10)
      seps <- Gen.listOfN(k + 1, genSep)
      inner <- Gen.listOfN(k, Gen.oneOf("", "\t", "\n", "\u00A0"))
    } yield (0 until k).map(j => seps(j) + s"w${inner(j)}$j")
      .mkString + seps(k)
    samples(genDoc, 6).foreach { t =>
      val k = model(t).size
      val pair = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
      val spans = SpanDedup.duplicateSpans(pair, "doc_id", "text", 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      assert(spans == Seq((2L, 1L, k.toLong)),
        s"spans $spans vs whole-doc (2,1,$k) on codepoints " +
          s"${t.map(_.toInt)}")
      val cleanedRows = SpanDedup.removeSpans(pair, "doc_id", "text", 2)
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(cleanedRows ==
        Seq(1L -> model(t).mkString(" "), 2L -> ""))
    }
  }

  test("SpanDedup.duplicateSpans equals a sequential ExactSubstr " +
    "reference model on random small-vocab corpora (both policies)") {
    import graft.operators.SpanDedup
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row

    val L = 3
    // tiny vocab → dense gram collisions across and within documents
    val genDoc = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")))
    val genCorpus = Gen.listOfN(6, genDoc)

    def modelSpans(corpus: Seq[(Long, Seq[String])],
                   keepFirst: Boolean): Seq[(Long, Long, Long)] = {
      val occ = for {
        (id, tk) <- corpus
        p <- 1 to tk.size - L + 1
      } yield (tk.slice(p - 1, p - 1 + L).mkString(" "), id, p)
      val byGram = occ.groupBy(_._1)
      val marked = byGram.valuesIterator.flatMap { os =>
        if (os.size <= 1) Nil
        else {
          val sorted = os.map(o => (o._2, o._3)).sortBy(identity)
          if (keepFirst) sorted.tail else sorted
        }
      }.toSeq
      marked.groupBy(_._1).toSeq.flatMap { case (id, ps) =>
        // merge [p, p+L-1] windows, overlapping OR adjacent
        val ivs = ps.map(_._2).sorted.map(p => (p.toLong, (p + L - 1).toLong))
        ivs.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (s, e)) =>
          acc.lastOption match {
            case Some((ps0, pe)) if s <= pe + 1 =>
              acc.init :+ (ps0, math.max(pe, e))
            case _ => acc :+ (s, e)
          }
        }.map { case (s, e) => (id, s, e) }
      }.sorted
    }

    samples(genCorpus, 8).foreach { docsToks =>
      val corpus = docsToks.zipWithIndex.map { case (tk, i) =>
        (i.toLong, tk) }
      val df = spark.createDataFrame(
        corpus.map { case (i, tk) => Row(i, tk.mkString(" ")) }.asJava,
        StructType(Seq(StructField("doc_id", LongType, false),
          StructField("text", StringType, false))))
      for (keepFirst <- Seq(true, false)) {
        val got = SpanDedup.duplicateSpans(df, "doc_id", "text", L,
            keepFirst)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSeq.sorted
        val want = modelSpans(corpus, keepFirst)
        assert(got == want,
          s"keepFirst=$keepFirst corpus=$docsToks got=$got want=$want")
      }
    }
  }
}
