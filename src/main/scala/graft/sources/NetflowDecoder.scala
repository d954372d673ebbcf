package graft.sources

import graft.flow.FlowSchema
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

/** NetFlow v5/v9 and IPFIX (RFC 7011) decoder: one template-driven
  * path for all three dialects.
  *
  * Wire formats are public standards; the decode strategy mirrors the
  * reference's shape (SURVEY.md §2.1): templates cached per
  * (exporter, source-id, version, template-id) — reference
  * netflow-templates.c:100-252 — and each data record dispatched
  * per-field by NetFlow field id into the canonical FlowSchema columns
  * (the reference's 65536-entry function table, netflow.c:56,824-837,
  * becomes a Map lookup). v9 and IPFIX share one set walker, told
  * apart by a private `Dialect` (header layout, set ids, options
  * header, enterprise bit, message length). v5 is a constant template
  * over its fixed 48-byte record, the reference's NF5_FIELDS mapping
  * onto v9 field ids. Every data record of every dialect goes through
  * one record loop, which writes a flow row or, for an options
  * template, harvests the exporter's sampling rate.
  *
  * Distribution model: packets are decoded per partition by the
  * [[DecodeFlows]] plan node; the template cache is partition-local, so
  * routing an exporter's packets to a stable partition (repartition by
  * exporter ip) reproduces the reference's socket-per-thread affinity
  * (STEP-BY-STEP.md:138-156) at cluster scale. Templates arriving in the
  * same packet as data (the normal NetFlow startup behavior) always
  * decode. Each flow is decoded straight into an array of Catalyst
  * values (Long, UTF8String, Array[Byte], null) that becomes the output
  * InternalRow, like the reference's fixed-width `struct flow_info`
  * (flow-info.h:10-33); no `Row` or encoder sits between decode and
  * the plan. [[decodePacket]] is the per-packet view for callers
  * outside Spark and returns Java Strings instead.
  */
object NetflowDecoder {

  /** Template: field list as (fieldId, length, enterpriseId). Scope
    * fields of an options template carry a negative fieldId (scope types
    * share the numeric space with field ids but mean something else, so
    * they must never hit the field dispatch). */
  final case class Template(fields: Seq[(Int, Int, Long)],
                            isOptions: Boolean = false) {
    // the record loop's flat view, built on a revision's first data set
    // (a re-announced template that no record uses costs nothing); 65535
    // is an IPFIX variable-length field, or a plain v9 length
    private[sources] lazy val ids: Array[Int] =
      fields.iterator.map(_._1).toArray
    private[sources] lazy val lens: Array[Int] =
      fields.iterator.map(_._2).toArray
    private[sources] lazy val ents: Array[Long] =
      fields.iterator.map(_._3).toArray
    private[sources] lazy val varFields: Int = lens.count(_ == 65535)
    private[sources] lazy val fixedLen: Int =
      lens.iterator.filter(_ != 65535).sum
  }

  /** Partition-local template store with LRU eviction and EPOCH
    * history: templates are keyed by (exporter, source-id, version,
    * template-id) and each key holds a small time-ordered history of
    * revisions; lookup resolves the NEWEST revision whose epoch ≤ the
    * packet's timestamp — the reference's `seek(LE)` over epoch-suffixed
    * keys (netflow-templates.c:100-252, lookup 140-178). Replaying a
    * capture where an exporter revised a template mid-stream therefore
    * decodes each record with the template that was live at that
    * record's time, regardless of the order packets are iterated.
    *
    * Bounds: LRU cap on distinct template keys (8192 ≫ any sane exporter
    * population per partition); per-key history capped at `maxEpochs`
    * entries — eviction removes redundant re-announces (entries
    * identical to their predecessor, whose removal cannot change any
    * floor lookup) before it touches a genuine revision, so the cap
    * only bites on real layout churn. Same-epoch conflicting revisions
    * resolve by content comparison, never by arrival order.
    */
  final class TemplateCache(maxEntries: Int = 8192, maxEpochs: Int = 8) {
    private def lru[K, V](cap: Int) =
      new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[K, V]): Boolean = this.size() > cap
      }
    private type Hist[V] = java.util.TreeMap[java.lang.Long, V]
    private val m = lru[(Long, Long, Int, Int), Hist[Template]](maxEntries)
    private val samp = lru[(Long, Long), Hist[java.lang.Long]](maxEntries)

    // Canonical content orderings for same-epoch conflict resolution.
    // Deliberately NOT toString-based: string comparison would couple
    // the winner to the runtime Seq implementation's rendering and
    // compare sampling rates as digit strings ("99" > "100").
    private implicit val templateOrd: Ordering[Template] = {
      import scala.math.Ordering.Implicits.seqOrdering
      Ordering.by((t: Template) => (t.isOptions, t.fields.toList))
    }
    private implicit val boxedLongOrd: Ordering[java.lang.Long] =
      Ordering.by((l: java.lang.Long) => l.longValue)

    private def putAt[V](h: Hist[V], epoch: Long, v: V,
                         cap: Int)(implicit ord: Ordering[V]): Unit = {
      val exact = h.get(epoch)
      if (exact != null) {
        // Two DIFFERENT revisions inside the same second are ambiguous
        // at 1 s epoch resolution (the reference's epoch keys share it:
        // netflow-templates.c stores seconds). Resolve by a canonical
        // content comparison instead of arrival order, so batch replay
        // stays deterministic under packet reordering.
        if (exact != v && ord.gt(v, exact)) h.put(epoch, v)
      } else {
        // Every announcement at a NEW epoch is stored — even one
        // identical to the floor predecessor. Skipping it would lose
        // the information needed to resolve a later same-epoch
        // conflict deterministically. The cap stays effective because
        // eviction prefers entries identical to their predecessor
        // (removing those never changes any floor lookup), falling
        // back to the oldest only when every entry is a distinct
        // revision.
        h.put(epoch, v)
        while (h.size() > cap) {
          var victim: java.lang.Long = null
          val it = h.entrySet().iterator()
          var prev: V = null.asInstanceOf[V]
          var first = true
          while (victim == null && it.hasNext) {
            val e = it.next()
            if (!first && e.getValue == prev) victim = e.getKey
            prev = e.getValue
            first = false
          }
          h.remove(if (victim != null) victim else h.firstKey())
        }
      }
    }

    def put(src: Long, sourceId: Long, ver: Int, tid: Int, epoch: Long,
            t: Template): Unit = {
      val key = (src, sourceId, ver, tid)
      var h = m.get(key)
      if (h == null) { h = new Hist[Template](); m.put(key, h) }
      putAt(h, epoch, t, maxEpochs)
    }

    /** Newest template revision with epoch ≤ tsSec; None if the packet
      * predates every known revision (reference: seek(LE) miss → record
      * skipped, netflow-templates.c:140-178). */
    def get(src: Long, sourceId: Long, ver: Int, tid: Int,
            tsSec: Long): Option[Template] = {
      val h = m.get((src, sourceId, ver, tid))
      if (h == null) None
      else Option(h.floorEntry(tsSec)).map(_.getValue)
    }
    def size: Int = m.size()

    /** Sampling rate learned from an options data record (reference
      * applies it per exporter, netflow.c:367-678) — same epoch-floor
      * semantics so a replayed rate change applies from its own time. */
    def putSampling(src: Long, sourceId: Long, epoch: Long,
                    rate: Long): Unit = {
      val key = (src, sourceId)
      var h = samp.get(key)
      if (h == null) { h = new Hist[java.lang.Long](); samp.put(key, h) }
      putAt(h, epoch, Long.box(rate), maxEpochs)
    }
    def getSampling(src: Long, sourceId: Long,
                    tsSec: Long): Option[Long] = {
      val h = samp.get((src, sourceId))
      if (h == null) None
      else Option(h.floorEntry(tsSec)).map(_.getValue.longValue)
    }

    /** Flattened, order-independent view of every template/sampling
      * revision — the unit of disk persistence (the reference stores
      * templates on disk and reloads them at start so flows decode
      * before any re-announcement: CONFIG.md "templates" section,
      * netflow-templates.c:33-139 templates_load). Caller holds the
      * cache's monitor when a decode may be concurrent. */
    def snapshot(): NetflowDecoder.TemplateSnapshot = {
      val ts = m.entrySet().asScala.toSeq.flatMap { e =>
        val (src, sid, ver, tid) = e.getKey
        e.getValue.entrySet().asScala.toSeq.map(h =>
          NetflowDecoder.TemplateSnapshotEntry(src, sid, ver, tid,
            h.getKey.longValue, h.getValue.isOptions, h.getValue.fields))
      }
      val ss = samp.entrySet().asScala.toSeq.flatMap { e =>
        val (src, sid) = e.getKey
        e.getValue.entrySet().asScala.toSeq.map(h =>
          NetflowDecoder.SamplingSnapshotEntry(src, sid,
            h.getKey.longValue, h.getValue.longValue))
      }
      NetflowDecoder.TemplateSnapshot(ts, ss)
    }

    /** Merge a snapshot in through the same putAt path as live
      * announcements — same-epoch conflicts resolve canonically, so
      * restore is idempotent and order-independent vs live traffic. */
    def restore(s: NetflowDecoder.TemplateSnapshot): Unit = {
      s.templates.foreach(t => put(t.src, t.sourceId, t.ver, t.tid,
        t.epoch, Template(t.fields, t.isOptions)))
      s.sampling.foreach(r =>
        putSampling(r.src, r.sourceId, r.epoch, r.rate))
    }
  }

  /** One persisted template revision (epoch history entry). */
  final case class TemplateSnapshotEntry(src: Long, sourceId: Long,
      ver: Int, tid: Int, epoch: Long, isOptions: Boolean,
      fields: Seq[(Int, Int, Long)])
  /** One persisted options-learned sampling-rate revision. */
  final case class SamplingSnapshotEntry(src: Long, sourceId: Long,
      epoch: Long, rate: Long)
  /** Everything a restarted decoder needs to resume mid-stream. */
  final case class TemplateSnapshot(
      templates: Seq[TemplateSnapshotEntry],
      sampling: Seq[SamplingSnapshotEntry])

  /** Snapshot wire format: explicit, versioned, fixed-width records —
    * the reference persists templates as explicit tkvdb records the
    * same way (netflow-templates.c:33-139). Java serialization was
    * REMOVED here deliberately (ADVICE r14): ObjectInputStream over a
    * spool directory an operator may not fully control is a
    * deserialization gadget vector, and its stream format couples the
    * snapshot to Scala/JDK collection internals, so a runtime upgrade
    * would silently read as a cold start. Layout (DataOutput,
    * big-endian):
    *
    *   magic i32 "GFTS" | version i32 = 1
    *   | nTemplates i32 | each: src i64, sourceId i64, ver i32,
    *     tid i32, epoch i64, isOptions bool, nFields i32,
    *     each field: fieldId i32, length i32, enterprise i64
    *   | nSampling i32 | each: src i64, sourceId i64, epoch i64,
    *     rate i64
    *
    * Bad magic, unknown version, a count outside sane bounds, or a
    * short read ⇒ cold start (None), matching the reference's
    * log-and-continue on an unreadable template db. */
  private val SnapMagic = 0x47465453 // "GFTS"
  private val SnapVersion = 1
  private val SnapMaxEntries = 1 << 24 // sanity bound, not a limit hit

  private def writeSnapshot(snap: TemplateSnapshot,
                            out: java.io.DataOutputStream): Unit = {
    out.writeInt(SnapMagic)
    out.writeInt(SnapVersion)
    out.writeInt(snap.templates.size)
    snap.templates.foreach { t =>
      out.writeLong(t.src); out.writeLong(t.sourceId)
      out.writeInt(t.ver); out.writeInt(t.tid)
      out.writeLong(t.epoch); out.writeBoolean(t.isOptions)
      out.writeInt(t.fields.size)
      t.fields.foreach { case (fid, len, ent) =>
        out.writeInt(fid); out.writeInt(len); out.writeLong(ent)
      }
    }
    out.writeInt(snap.sampling.size)
    snap.sampling.foreach { s =>
      out.writeLong(s.src); out.writeLong(s.sourceId)
      out.writeLong(s.epoch); out.writeLong(s.rate)
    }
  }

  /** Parse one snapshot stream; None on any malformed input (the
    * caller turns that into a cold start). Parsing never allocates
    * more than the stream can justify: counts are bounds-checked and
    * every record read is fixed-width, so a hostile file costs at
    * most one bounded pass. */
  private def readSnapshot(
      in: java.io.DataInputStream): Option[TemplateSnapshot] =
    try {
      if (in.readInt() != SnapMagic) None
      else if (in.readInt() != SnapVersion) None
      else {
        def count(): Int = {
          val n = in.readInt()
          if (n < 0 || n > SnapMaxEntries)
            throw new java.io.IOException(s"bad count $n")
          n
        }
        val ts = Seq.fill(count()) {
          val src = in.readLong(); val sid = in.readLong()
          val ver = in.readInt(); val tid = in.readInt()
          val epoch = in.readLong(); val isOpt = in.readBoolean()
          val fields = Seq.fill(count())(
            (in.readInt(), in.readInt(), in.readLong()))
          TemplateSnapshotEntry(src, sid, ver, tid, epoch, isOpt,
            fields)
        }
        val ss = Seq.fill(count())(SamplingSnapshotEntry(
          in.readLong(), in.readLong(), in.readLong(), in.readLong()))
        Some(TemplateSnapshot(ts, ss))
      }
    } catch { case _: Exception => None }

  // ---------------------------------------- snapshot persistence
  // Snapshots go through the Hadoop FileSystem API, so one code path
  // serves local disk (`file:`) and the cluster shape, where the store
  // must outlive any one executor AND be reachable from whichever
  // host a restarted task lands on (HDFS-class shared storage).

  /** Snapshot write: tmp file + rename, so a reader never sees a
    * half-written file (the reference's tkvdb file write is likewise
    * all-or-nothing per transaction). On HDFS the FileContext
    * OVERWRITE rename is atomic (a reader sees the old or the new
    * file); on copy-rename stores (S3A) the window is non-atomic,
    * which degrades safely — a torn read parses to None = cold start
    * until the next micro-batch rewrite. */
  def saveTemplates(cache: TemplateCache, conf: Configuration,
                    file: Path): Unit = {
    val snap = cache.synchronized(cache.snapshot())
    val fs = rawFs(file, conf)
    val tmp = new Path(file.getParent,
      file.getName + ".tmp" + ProcessHandle.current().pid())
    try {
      val out = new java.io.DataOutputStream(fs.create(tmp, true))
      try writeSnapshot(snap, out) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        file.toUri, conf)
      fc.rename(tmp, file,
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case e: Exception =>
        try fs.delete(tmp, false) catch { case _: Exception => () }
        throw e
    }
  }

  /** Load a snapshot; a missing, corrupt, truncated, or
    * wrong-version file is a cold start, not an error (the reference
    * logs and continues the same way). */
  def loadTemplates(conf: Configuration,
                    file: Path): Option[TemplateSnapshot] =
    try {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(rawFs(file, conf).open(file)))
      try readSnapshot(in) finally in.close()
    } catch { case _: Exception => None }

  /** The checksum-less filesystem for a path: LocalFileSystem writes
    * .crc side files that a FileContext rename (raw AbstractFileSystem)
    * would strand; HDFS/S3A pass through unchanged. */
  private def rawFs(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem
      case f => f
    }

  /** Output schema: ts_sec + the full physical flow schema. */
  val outSchema: StructType = StructType(
    StructField("ts_sec", LongType, false) +:
      FlowSchema.physFields.map(f =>
        StructField(f.name, f.sparkType, nullable = true)))

  private val fieldIdx: Map[Int, (Int, FlowSchema.PhysField)] =
    FlowSchema.physFields.zipWithIndex.map { case (f, i) =>
      f.nfId -> ((i + 1, f)) // +1: slot 0 is ts_sec
    }.toMap

  private def be(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }
  private def u16(b: Array[Byte], off: Int): Int = be(b, off, 2).toInt
  private def u32(b: Array[Byte], off: Int): Long = be(b, off, 4)

  private def setField(row: Array[Any], fid: Int, b: Array[Byte],
                       off: Int, len: Int): Unit =
    fieldIdx.get(fid).foreach { case (slot, f) =>
      if (len >= 0 && off + len <= b.length) {
        row(slot) = f.kind match {
          case FlowSchema.UIntK | FlowSchema.Ip4K =>
            if (len >= 1 && len <= 8) be(b, off, len)
            else null
          case FlowSchema.Ip6K | FlowSchema.MacK =>
            java.util.Arrays.copyOfRange(b, off, off + len)
          case FlowSchema.StringK =>
            val end = {
              var e = off
              while (e < off + len && b(e) != 0) e += 1
              e
            }
            UTF8String.fromString(
              new String(b, off, end - off, StandardCharsets.UTF_8))
        }
      }
    }

  /** Slot of the virtual sampling_rate column (flow-info.h:19-33). */
  private val sampSlot: Int = fieldIdx(65504)._1

  /** Slot of the virtual exporter-address column: the reference stamps
    * every flow with its exporter's identity before processing
    * (flow-info.h:19-33, netflow.c:113-144) — dev_ip here; dev_id /
    * dev_mark are config enrichment (flow/Devices.scala). */
  private val devIpSlot: Int = fieldIdx(65500)._1

  /** IPFIX enterprise-scoped fields to decode, (enterpriseId, fieldId) →
    * canonical nfId (reference maps its VAS vendor fields this way,
    * netflow.c:367-678); unmapped enterprise values are skipped over. */
  val defaultEnterpriseMap: Map[(Long, Int), Int] = Map.empty

  /** Which parts of a packet a decode pass processes. Single-pass
    * (streaming) decode does everything at once; the batch path runs
    * three passes over a buffered partition — templates, then options
    * data (sampling), then flow data — so that with the epoch-floor
    * store the decode result is independent of packet order within the
    * partition (the reference achieves the same replay property by
    * persisting epoch-keyed templates, netflow-templates.c:100-252). */
  private final case class Phase(templates: Boolean, options: Boolean,
                                 flows: Boolean)
  private val PhaseAll = Phase(true, true, true)
  private val PhaseTemplates = Phase(true, false, false)
  private val PhaseOptions = Phase(false, true, false)
  private val PhaseFlows = Phase(false, false, true)

  /** Decode one UDP payload into flow rows (ts_sec + fields, nulls where
    * absent), string columns as Java Strings. Unknown versions/flowsets
    * are skipped, not fatal. */
  def decodePacket(payload: Array[Byte], tsSec: Long, srcIp: Long,
                   cache: TemplateCache,
                   entMap: Map[(Long, Int), Int] = defaultEnterpriseMap)
      : Seq[Array[Any]] =
    decodePhase(payload, tsSec, srcIp, cache, entMap, PhaseAll)
      .map(toExternal)

  private val stringSlots: Array[Int] =
    outSchema.fields.indices.filter(outSchema(_).dataType == StringType)
      .toArray

  /** A decoded row with its UTF8String values turned into Strings, in
    * place: the per-packet view of [[decodePacket]]. */
  private[sources] def toExternal(row: Array[Any]): Array[Any] = {
    stringSlots.foreach { i =>
      row(i) match {
        case u: UTF8String => row(i) = u.toString
        case _             => ()
      }
    }
    row
  }

  private def decodePhase(payload: Array[Byte], tsSec: Long, srcIp: Long,
                          cache: TemplateCache,
                          entMap: Map[(Long, Int), Int],
                          ph: Phase): Seq[Array[Any]] = {
    val d = new PacketDecode(payload, tsSec, srcIp, cache, entMap)
    if (payload.length >= 2) u16(payload, 0) match {
      case 5 if ph.flows && payload.length >= 24 =>
        // header sampling_interval (bytes 22-23): 2-bit mode + 14-bit
        // value (public v5 spec; the reference maps it onto the
        // exporter rate)
        val rate = u16(payload, 22) & 0x3fff
        d.records(v5Template, 24,
          math.min(payload.length, 24 + u16(payload, 2) * 48),
          varLen = false, 0L, if (rate > 0) Long.box(rate.toLong) else null)
      case 9  => d.sets(V9, ph)
      case 10 => d.sets(Ipfix, ph)
      case _  => ()
    }
    d.out.result()
  }

  // NetFlow v5: 24-byte header + 48-byte fixed records, decoded as one
  // constant template (field order per the public v5 spec; reference
  // netflow.h NF5_FIELDS maps it onto v9 field ids the same way)
  private val v5Layout: Seq[(Int, Int)] = Seq(
    // (netflow field id, length); id -1 = skip
    8 -> 4, 12 -> 4, 15 -> 4, 10 -> 2, 14 -> 2, 2 -> 4, 1 -> 4,
    22 -> 4, 21 -> 4, 7 -> 2, 11 -> 2, -1 -> 1, 6 -> 1, 4 -> 1,
    5 -> 1, 16 -> 2, 17 -> 2, 9 -> 1, 13 -> 1, -1 -> 2)
  private val v5Template =
    Template(v5Layout.map { case (fid, len) => (fid, len, 0L) })

  /** What separates the two template dialects in the one set walker:
    * NetFlow v9 (RFC 3954) and IPFIX (RFC 7011). Only IPFIX ends the
    * walk at its header's message length, sets an enterprise bit on a
    * field spec and marks a variable-length field with length 65535;
    * in v9, 65535 is an ordinary length. The options-template set id
    * is the template set id + 1 in both. */
  private final case class Dialect(version: Int, headerLen: Int,
                                   idOff: Int, templateSet: Int) {
    val ipfix: Boolean = version == 10
  }
  private val V9 = Dialect(9, 20, 16, 0)
  private val Ipfix = Dialect(10, 16, 12, 2)

  /** Options-data fields that carry the exporter's sampling interval:
    * 34 SAMPLING_INTERVAL, 50 SAMPLER_RANDOM_INTERVAL, 305
    * samplingPacketInterval. */
  private val SamplingFields = Set(34, 50, 305)

  /** One packet's decode: the set walker and the record loop, writing
    * flow rows into `out`. */
  private final class PacketDecode(b: Array[Byte], tsSec: Long,
                                   srcIp: Long, cache: TemplateCache,
                                   entMap: Map[(Long, Int), Int]) {
    val out = Vector.newBuilder[Array[Any]]

    /** The one set walker (v9 and IPFIX): template and options-template
      * sets fill the cache, data sets run the record loop with the
      * template live at the packet's time. A set that overruns the
      * message ends the walk. */
    def sets(d: Dialect, ph: Phase): Unit = {
      if (b.length < d.headerLen) return
      val end = if (d.ipfix) math.min(u16(b, 2), b.length) else b.length
      val sourceId = u32(b, d.idOff)
      var off = d.headerLen
      while (off + 4 <= end) {
        val setId = u16(b, off)
        val setEnd = off + u16(b, off + 2)
        if (setEnd < off + 4 || setEnd > end) return
        if ((setId == d.templateSet || setId == d.templateSet + 1) &&
            ph.templates)
          templates(d, sourceId, off + 4, setEnd, setId != d.templateSet)
        else if (setId >= 256 && (ph.options || ph.flows))
          cache.get(srcIp, sourceId, d.version, setId, tsSec).foreach { t =>
            if (t.isOptions && ph.options)
              records(t, off + 4, setEnd, d.ipfix, sourceId, null)
            else if (!t.isOptions && ph.flows)
              records(t, off + 4, setEnd, d.ipfix, sourceId,
                cache.getSampling(srcIp, sourceId, tsSec).map(Long.box)
                  .orNull)
          } // other set ids below 256 are reserved: skipped
        off = setEnd
      }
    }

    /** The template specs of one set, b[p0, setEnd), into the cache. A
      * v9 options header gives the scope and option LENGTHS in bytes
      * (RFC 3954 §6.1; reference netflow.c:147-365), an IPFIX one the
      * field count and then the scope field count (RFC 7011 §3.4.2.2);
      * the first specs are the scope fields, stored negated so they
      * never hit the field dispatch. A spec that does not fit (its
      * enterprise number included) or a malformed options header ends
      * the set and stores nothing. */
    private def templates(d: Dialect, sourceId: Long, p0: Int,
                          setEnd: Int, opts: Boolean): Unit = {
      val hdr = if (opts) 6 else 4
      var p = p0
      while (p + hdr <= setEnd) {
        val tid = u16(b, p)
        var nf = u16(b, p + 2)
        var nScope = 0
        var ok = true
        if (opts) {
          val x = u16(b, p + 4)
          if (d.ipfix) { nScope = x; ok = tid >= 256 && x <= nf }
          else {
            ok = tid >= 256 && nf % 4 == 0 && x % 4 == 0
            nScope = nf / 4
            nf = (nf + x) / 4
          }
        }
        p += hdr
        val fields = Vector.newBuilder[(Int, Int, Long)]
        var k = 0
        while (ok && k < nf) {
          // an IPFIX spec with the enterprise bit set carries a 4-byte
          // enterprise number, which must fit as well
          val pen = d.ipfix && p + 4 <= setEnd && (b(p) & 0x80) != 0
          val specLen = if (pen) 8 else 4
          if (p + specLen > setEnd) ok = false
          else {
            val fid = u16(b, p) & (if (pen) 0x7fff else 0xffff)
            fields += ((if (k < nScope) -fid - 1 else fid, u16(b, p + 2),
              if (pen) u32(b, p + 4) else 0L))
            p += specLen
            k += 1
          }
        }
        if (ok) cache.put(srcIp, sourceId, d.version, tid, tsSec,
          Template(fields.result(), opts))
        else p = setEnd
      }
    }

    /** The one record loop (v5, v9 and IPFIX): the records of `t` in
      * b[p0, end). A flow template writes one row per record; an
      * options template instead harvests the exporter's sampling
      * interval into the cache. A record that does not fit ends the
      * loop. `sampling` (a boxed rate, or null) fills the rows whose
      * own fields carry none. */
    def records(t: Template, p0: Int, end: Int, varLen: Boolean,
                sourceId: Long, sampling: java.lang.Long): Unit = {
      val ids = t.ids
      val lens = t.lens
      val ents = t.ents
      // smallest record: an IPFIX variable-length field takes at least
      // its 1-byte length prefix
      val minRec = t.fixedLen + t.varFields * (if (varLen) 1 else 65535)
      var fits = minRec > 0
      var p = p0
      while (fits && end - p >= minRec) {
        val row = if (t.isOptions) null else new Array[Any](outSchema.length)
        var q = p
        var k = 0
        while (fits && k < ids.length) {
          var len = lens(k)
          if (len == 65535 && varLen) {
            // RFC 7011 §7 variable length: 1 byte, or 255 + 2 bytes
            if (q < end && (b(q) & 0xff) < 255) { len = b(q) & 0xff; q += 1 }
            else if (q + 3 <= end) { len = u16(b, q + 1); q += 3 }
            else fits = false
          }
          if (!fits || q + len > end) fits = false
          else {
            if (row == null) {
              if (ents(k) == 0L && SamplingFields(ids(k)) && len >= 1 &&
                  len <= 8) {
                val v = be(b, q, len)
                if (v > 0) cache.putSampling(srcIp, sourceId, tsSec, v)
              }
            } else if (ents(k) == 0L) setField(row, ids(k), b, q, len)
            else entMap.get((ents(k), ids(k))) // configured vendor field
              .foreach(setField(row, _, b, q, len))
            q += len
          }
          k += 1
        }
        if (fits) {
          if (row != null) {
            row(0) = tsSec
            if (row(sampSlot) == null) row(sampSlot) = sampling
            row(devIpSlot) = srcIp
            out += row
          }
          p = q
        }
      }
    }
  }

  /** DataFrame-level decode: (payload binary, ts_sec long, src_ip long) →
    * canonical flow columns. Partition-local template cache.
    *
    * Batch replay is ORDER-INDEPENDENT within a partition: the packets
    * are buffered and decoded in three passes — (1) harvest templates,
    * (2) harvest options data (sampling rates), (3) decode flow records —
    * with every store epoch-keyed and every lookup resolving the newest
    * entry ≤ the packet's own timestamp. A shuffled capture containing a
    * mid-stream template revision therefore decodes each record with the
    * template that was live at that record's time (the reference gets
    * this from its persisted epoch-keyed template DB + seek(LE),
    * netflow-templates.c:100-252). Routing an exporter's packets to a
    * stable partition (repartition by exporter ip) keeps all of its
    * templates visible to its data. The buffer holds one Spark partition
    * of raw packets, GUARDED by `bufferByteBudget`: a partition whose
    * summed payload bytes exceed the budget falls back to the
    * constant-memory single-pass stream (decode-in-arrival-order) for
    * the whole partition instead of OOMing the executor — file sources
    * never hit this (input-split sizing keeps partitions ≲ a few
    * hundred MB), it exists for arbitrary upstream partitioning.
    * Streaming ingest is [[decodeStream]], which decodes in arrival
    * order against a cache that persists across micro-batches. */
  def decode(df: DataFrame, payloadCol: String = "payload",
             tsCol: String = "ts_sec",
             srcIpCol: String = "src_ip",
             entMap: Map[(Long, Int), Int] = defaultEnterpriseMap,
             bufferByteBudget: Long = 256L << 20)
      : DataFrame = {
    val proj = df.select(col(payloadCol), col(tsCol).cast(LongType),
      col(srcIpCol).cast(LongType))
    DecodeFlows.frame(proj, outSchema) { it =>
      val cache = new TemplateCache
      val packets = it.map(r => (r.getBinary(0), r.getLong(1),
        r.getLong(2)))
      // buffer up to the byte budget; only a fully-buffered partition
      // can be replayed order-independently (the 3 passes need every
      // packet), so past the budget the WHOLE partition degrades to
      // the single-pass stream rather than a partial replay.
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(Array[Byte], Long, Long)]
      var bytes = 0L
      var over = false
      while (packets.hasNext && !over) {
        val t = packets.next()
        buf += t
        if (t._1 != null) bytes += t._1.length
        if (bytes > bufferByteBudget) over = true
      }
      if (over) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"netflow decode: partition exceeds order-independent " +
            s"buffer budget ($bytes > $bufferByteBudget bytes); " +
            s"falling back to single-pass in-order decode")
        (buf.iterator ++ packets).flatMap { case (p, ts, src) =>
          decodePhase(p, ts, src, cache, entMap, PhaseAll)
        }
      } else {
        buf.foreach { case (p, ts, src) =>
          decodePhase(p, ts, src, cache, entMap, PhaseTemplates)
        }
        buf.foreach { case (p, ts, src) =>
          decodePhase(p, ts, src, cache, entMap, PhaseOptions)
        }
        buf.iterator.flatMap { case (p, ts, src) =>
          decodePhase(p, ts, src, cache, entMap, PhaseFlows)
        }
      }
    }
  }

  /** Executor-JVM-wide template caches for STREAMING ingest, keyed by
    * (namespace, input partition id). Real exporters re-announce
    * templates every ~60 s while data flows continuously; a micro-
    * batch-local cache (what [[decode]] builds per partition)
    * would drop every data record arriving between re-announcements.
    * One cache per input partition — reused across micro-batches within
    * the executor process — keeps it lock-uncontended in steady state
    * (Spark schedules one task per partition per batch; the per-packet
    * synchronized only matters under retry/speculation overlap).
    * Memory is bounded: TemplateCache's own LRU caps × partitions. */
  // IDLE-based eviction, not a hard LRU cap: a cap could evict a LIVE
  // query's cache when one JVM hosts more (namespace, partition)
  // entries than the cap (a 2000-partition source alone would), and an
  // evicted live cache silently drops every record until the
  // exporter's next template re-announcement. Live caches are touched
  // every micro-batch; the 6-hour window exceeds any sane trigger
  // interval, so anything idle past it belongs to a stopped query.
  // The sweep runs only on misses once the registry is non-trivial.
  // Miss-path stamping happens INSIDE compute() so create-then-sweep
  // races cannot orphan a fresh entry. (A hot-path get can still race
  // a concurrent sweep, but only for an entry ALREADY idle past the
  // 6-hour window — i.e. a live query with a trigger interval beyond
  // anything Structured Streaming deployments use; accepted.)
  private final case class Stamped(cache: TemplateCache) {
    @volatile var lastUsedNanos: Long = System.nanoTime()
  }
  private val streamCacheIdleEvictNanos = 6L * 3600 * 1000000000L
  private val streamCaches =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Stamped]

  /** Evict stream caches idle past the 6-hour window. An evicted key
    * must also forget its RESTORE mark: a later task for it gets a
    * fresh empty cache, and with the mark still set it would skip the
    * disk merge and then persist that empty cache OVER the durable
    * snapshot file — clobbering exactly the state the file protects. */
  private def sweepIdleStreamCaches(): Unit = {
    val cutoff = System.nanoTime() - streamCacheIdleEvictNanos
    val it = streamCaches.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.lastUsedNanos < cutoff) {
        it.remove()
        restoredOnce.remove(e.getKey)
      }
    }
  }

  /** Test hooks: age a cache past the idle window, then run the REAL
    * sweep — lets a spec prove the evict-forgets-restore-mark contract
    * without minting 256 caches and waiting 6 hours. */
  private[graft] def backdateStreamCacheForTest(namespace: String,
                                                pid: Int): Unit =
    Option(streamCaches.get((namespace, pid))).foreach(
      _.lastUsedNanos = System.nanoTime() - streamCacheIdleEvictNanos
        - 1)
  private[graft] def runIdleSweepForTest(): Unit =
    sweepIdleStreamCaches()

  private def streamCache(namespace: String, pid: Int): TemplateCache = {
    val key = (namespace, pid)
    val existing = streamCaches.get(key)
    val st =
      if (existing != null) { // hot path: no per-key lock
        existing.lastUsedNanos = System.nanoTime()
        existing
      } else {
        if (streamCaches.size() > 256) sweepIdleStreamCaches()
        streamCaches.compute(key, (_, cur) => {
          val v = if (cur == null) Stamped(new TemplateCache) else cur
          v.lastUsedNanos = System.nanoTime()
          v
        })
      }
    st.cache
  }

  /** Drop a namespace's persistent stream caches — deterministic
    * teardown for tests and single-JVM deployments. NOTE: this clears
    * only the CALLING JVM; in cluster mode the caches live in executor
    * JVMs, where the 6-hour idle sweep (streamCacheIdleEvictNanos,
    * above) is what reclaims a stopped query's state. A restarted
    * query that must not see stale
    * templates should use a fresh namespace. */
  def clearStreamCache(namespace: String): Unit = {
    val it = streamCaches.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == namespace) it.remove()
    val rt = restoredOnce.iterator()
    while (rt.hasNext) if (rt.next()._1 == namespace) rt.remove()
  }

  /** (namespace, partition) pairs that already merged their on-disk
    * snapshot this JVM lifetime — restore is idempotent, this just
    * avoids re-reading the file every micro-batch. clearStreamCache
    * resets it (the JVM-restart simulation tests rely on that). */
  private val restoredOnce =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()

  private def safeNs(namespace: String): String =
    namespace.map(c =>
      if (c.isLetterOrDigit || c == '-' || c == '.' || c == '_') c
      else '_')

  /** Snapshot file name for one (namespace, input partition). */
  private def templateFileName(namespace: String, pid: Int): String =
    f"${safeNs(namespace)}-p$pid%05d.tmpl"

  /** The store a `templatesDir` names. A dir with no URI scheme is
    * local disk on the executor, qualified here to a `file:` URI (a
    * relative one against the executor's working dir), so it never
    * resolves against `fs.defaultFS` — HDFS on a cluster. */
  private[sources] def templateStore(dir: String): Path = {
    val p = new Path(dir)
    if (p.toUri.getScheme != null) p
    else new Path("file", null, new java.io.File(dir).getAbsolutePath)
  }

  private def nsFilePattern(namespace: String): java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(safeNs(namespace)) +
        "-p\\d{5,}\\.tmpl")

  /** Every persisted snapshot file for a namespace, ANY partition.
    * Restore merges all of them, not just the current partition's:
    * snapshot files are keyed by the WRITING task's input-partition
    * id, and partition routing is not stable across a restart — a
    * shuffle's partition ids change with partition count, and a Kafka
    * assignment can move an exporter to another partition. Restoring
    * only the pid-matching file would drop that exporter's flows
    * until its next template re-announcement (ADVICE r14). Restore is
    * merge-only and epoch-keyed (idempotent, order-independent), so
    * over-merging is safe; WRITES stay per-partition, so there is no
    * cross-task file contention. */
  private def namespaceTemplateFiles(conf: Configuration, dir: Path,
                                     namespace: String): Seq[Path] = {
    val pat = nsFilePattern(namespace)
    try rawFs(dir, conf).listStatus(dir).toSeq
      .map(_.getPath)
      .filter(p => pat.matcher(p.getName).matches())
      .sortBy(_.getName)
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Tmp files a crashed writer left behind (`.tmpl.tmp<pid>`): the
    * restore listing excludes them and no rename ever consumes them,
    * so on a long-lived shared store they would otherwise accumulate
    * without bound (every crash mints a fresh pid-suffixed name).
    * Swept at first-restore time, with an age guard so another
    * executor's IN-FLIGHT tmp is never touched — and even a mis-swept
    * live tmp only fails that writer's rename, which the completion
    * listener swallows and the next micro-batch rewrites. */
  private val staleTmpAgeMs = 3600L * 1000

  private def tmpFilePattern(namespace: String): java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(safeNs(namespace)) +
        "-p\\d{5,}\\.tmpl\\.tmp\\d+")

  private def sweepStaleTmp(conf: Configuration, dir: Path,
                            namespace: String): Unit = {
    val pat = tmpFilePattern(namespace)
    val cutoff = System.currentTimeMillis() - staleTmpAgeMs
    try {
      val fs = rawFs(dir, conf)
      fs.listStatus(dir).foreach { st =>
        if (pat.matcher(st.getPath.getName).matches() &&
            st.getModificationTime < cutoff)
          try fs.delete(st.getPath, false)
          catch { case _: Exception => () } // another sweeper won
      }
    } catch { case _: java.io.FileNotFoundException => () }
  }

  /** Streaming decode: constant-memory single-pass per micro-batch,
    * with the template/sampling store PERSISTED across micro-batches
    * (per input partition, per `namespace`). Epoch-floor lookups still
    * apply — a template revision learned in batch N decodes batch N+1's
    * records with whichever revision was live at each record's own
    * timestamp. Route each exporter to a stable partition upstream
    * (e.g. repartition by exporter ip — but note a SHUFFLE's partition
    * ids are only stable while the partition count is; for sources like
    * Kafka, partition-by-exporter at the topic level instead). */
  /** @param templatesDir when set, each (namespace, partition)'s
    *   template/sampling store is additionally persisted to
    *   `<dir>/<ns>-p<pid>.tmpl` (atomic rename per micro-batch task);
    *   on the first touch after a JVM restart a partition merges back
    *   ALL of the namespace's files, so restore survives a partition
    *   routing change across restarts — the reference's on-disk
    *   template db (CONFIG.md "templates",
    *   netflow-templates.c:33-139): a restarted collector decodes
    *   immediately instead of dropping flows until the exporter's next
    *   template announcement. On a cluster, point it at storage the
    *   executor can reach again after restart (shared fs, or a local
    *   volume when executors are host-pinned). Every dir goes through
    *   the Hadoop FileSystem API: a dir WITH a URI scheme
    *   (`hdfs://nn/...`, `file:///...`, `s3a://...`) names its store,
    *   and a bare path is the executor's local disk, never
    *   `fs.defaultFS`. The file format is an explicit versioned
    *   binary record layout (see [[saveTemplates]]) — never Java
    *   serialization. */
  def decodeStream(df: DataFrame, namespace: String,
                   payloadCol: String = "payload",
                   tsCol: String = "ts_sec",
                   srcIpCol: String = "src_ip",
                   entMap: Map[(Long, Int), Int] = defaultEnterpriseMap,
                   templatesDir: Option[String] = None)
      : DataFrame = {
    val proj = df.select(col(payloadCol), col(tsCol).cast(LongType),
      col(srcIpCol).cast(LongType))
    // the executor-side closure needs the driver's Hadoop conf (S3
    // credentials, NN address), shipped via the broadcast-safe wrapper
    val store = templatesDir.map(d =>
      (d, new org.apache.spark.util.SerializableConfiguration(
        df.sparkSession.sparkContext.hadoopConfiguration)))
    DecodeFlows.frame(proj, outSchema) { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val cache = streamCache(namespace, pid)
      store.foreach { case (dir, sc) =>
        val conf = sc.value
        val base = templateStore(dir)
        // first touch after a (re)start merges EVERY partition's file
        // for the namespace — routing may have changed since the files
        // were written, see namespaceTemplateFiles. The restore mark
        // is set only AFTER the merge completes: the store can throw
        // (transient NN/store outage), and marking first would make
        // the retried task skip the restore forever — a permanent
        // cold start with valid snapshots sitting on disk.
        val key = (namespace, pid)
        if (!restoredOnce.contains(key)) {
          rawFs(base, conf).mkdirs(base)
          sweepStaleTmp(conf, base, namespace)
          namespaceTemplateFiles(conf, base, namespace).foreach(nf =>
            loadTemplates(conf, nf).foreach(s =>
              cache.synchronized(cache.restore(s))))
          restoredOnce.add(key)
        }
        val f = new Path(base, templateFileName(namespace, pid))
        // persist at task end — the cache then contains everything this
        // micro-batch learned; an empty batch re-writes the restored
        // content (never less: the cache is merge-only within a JVM)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try saveTemplates(cache, conf, f)
            catch { case _: Exception => () } // never fail the task
          })
      }
      it.flatMap { r =>
        cache.synchronized {
          decodePhase(r.getBinary(0), r.getLong(1), r.getLong(2), cache,
            entMap, PhaseAll)
        }
      }
    }
  }
}
