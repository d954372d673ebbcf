package graft.sources

import graft.flow.FlowSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

/** NetFlow v5/v9 and IPFIX (RFC 7011) decoders.
  *
  * Wire formats are public standards; the decode strategy mirrors the
  * reference's shape (SURVEY.md §2.1): templates cached per
  * (exporter, source-id, version, template-id) — reference
  * netflow-templates.c:100-252 — and each data record dispatched
  * per-field by NetFlow field id into the canonical FlowSchema columns
  * (the reference's 65536-entry function table, netflow.c:56,824-837,
  * becomes a Map lookup).
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
    // record-layout sums, computed once per template instead of per
    // record (65535 marks an IPFIX variable-length field)
    lazy val recLen: Int = fields.iterator.map(_._2).sum
    lazy val varFields: Int = fields.count(_._2 == 65535)
    lazy val fixedLen: Int =
      fields.iterator.map(_._2).filter(_ != 65535).sum
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

  /** Atomic snapshot write: tmp file + rename, so a reader never sees
    * a torn file (the reference's tkvdb file write is likewise
    * all-or-nothing per transaction). */
  def saveTemplates(cache: TemplateCache, file: java.io.File): Unit = {
    val snap = cache.synchronized(cache.snapshot())
    val tmp = new java.io.File(file.getParentFile,
      file.getName + ".tmp" + ProcessHandle.current().pid())
    try {
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(tmp)))
      try writeSnapshot(snap, out) finally out.close()
      java.nio.file.Files.move(tmp.toPath, file.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: Exception => tmp.delete(); throw e }
  }

  /** Load a snapshot; a missing, corrupt, truncated, or
    * wrong-version file is a cold start, not an error (the reference
    * logs and continues the same way). */
  def loadTemplates(file: java.io.File): Option[TemplateSnapshot] =
    if (!file.isFile) None
    else try {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(
          new java.io.FileInputStream(file)))
      try readSnapshot(in) finally in.close()
    } catch { case _: Exception => None }

  // ------------- Hadoop-FileSystem snapshot persistence (cluster mode)
  // On a real cluster the template store must outlive any one
  // executor AND be reachable from whichever host a restarted task
  // lands on — that means HDFS-class shared storage, not executor-
  // local disk. These mirrors of save/loadTemplates speak the same
  // GFTS v1 records through org.apache.hadoop.fs, selected by
  // decodeStream whenever templatesDir carries a URI scheme.

  /** Write one snapshot to a Hadoop path: tmp file + rename. On HDFS
    * the FileContext OVERWRITE rename is atomic (a reader sees the old
    * or the new file, never a torn one); on copy-rename stores (S3A)
    * the window is non-atomic, which degrades safely — a torn read
    * parses to None = cold start until the next micro-batch rewrite. */
  def saveTemplatesFs(cache: TemplateCache,
                      conf: org.apache.hadoop.conf.Configuration,
                      file: org.apache.hadoop.fs.Path): Unit = {
    val snap = cache.synchronized(cache.snapshot())
    val fs = rawFs(file, conf)
    val tmp = new org.apache.hadoop.fs.Path(file.getParent,
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

  /** Load one snapshot from a Hadoop path; missing/corrupt = None. */
  def loadTemplatesFs(conf: org.apache.hadoop.conf.Configuration,
                      file: org.apache.hadoop.fs.Path)
      : Option[TemplateSnapshot] =
    try {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(rawFs(file, conf).open(file)))
      try readSnapshot(in) finally in.close()
    } catch { case _: Exception => None }

  /** The checksum-less filesystem for a path: LocalFileSystem writes
    * .crc side files that a FileContext rename (raw AbstractFileSystem)
    * would strand; HDFS/S3A pass through unchanged. */
  private def rawFs(p: org.apache.hadoop.fs.Path,
                    conf: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.fs.FileSystem =
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
    if (payload.length < 2) return Nil
    u16(payload, 0) match {
      case 5  => if (ph.flows) decodeV5(payload, tsSec, srcIp) else Nil
      case 9  => decodeV9(payload, tsSec, srcIp, cache, ph)
      case 10 => decodeIpfix(payload, tsSec, srcIp, cache, entMap, ph)
      case _  => Nil
    }
  }

  // NetFlow v5: 24-byte header + 48-byte fixed records
  // (field order per the public v5 spec; reference netflow.h NF5_FIELDS)
  private val v5Layout: Seq[(Int, Int)] = Seq(
    // (netflow field id, length); id -1 = skip
    8 -> 4, 12 -> 4, 15 -> 4, 10 -> 2, 14 -> 2, 2 -> 4, 1 -> 4,
    22 -> 4, 21 -> 4, 7 -> 2, 11 -> 2, -1 -> 1, 6 -> 1, 4 -> 1,
    5 -> 1, 16 -> 2, 17 -> 2, 9 -> 1, 13 -> 1, -1 -> 2)

  private def decodeV5(b: Array[Byte], tsSec: Long,
                       srcIp: Long): Seq[Array[Any]] = {
    if (b.length < 24) return Nil
    val count = u16(b, 2)
    // header sampling_interval (bytes 22-23): 2-bit mode + 14-bit value
    // (public v5 spec; the reference maps it onto the exporter rate)
    val sampling = u16(b, 22) & 0x3fff
    val out = Vector.newBuilder[Array[Any]]
    var off = 24
    var i = 0
    while (i < count && off + 48 <= b.length) {
      val row = new Array[Any](outSchema.length)
      row(0) = tsSec
      var p = off
      v5Layout.foreach { case (fid, len) =>
        if (fid > 0) setField(row, fid, b, p, len)
        p += len
      }
      if (sampling > 0) row(sampSlot) = sampling.toLong
      row(devIpSlot) = srcIp
      out += row
      off += 48
      i += 1
    }
    out.result()
  }

  private def decodeV9(b: Array[Byte], tsSec: Long, srcIp: Long,
                       cache: TemplateCache, ph: Phase): Seq[Array[Any]] = {
    if (b.length < 20) return Nil
    val sourceId = u32(b, 16)
    val out = Vector.newBuilder[Array[Any]]
    var off = 20
    while (off + 4 <= b.length) {
      val setId = u16(b, off)
      val setLen = u16(b, off + 2)
      if (setLen < 4 || off + setLen > b.length) return out.result()
      if (setId == 0 && ph.templates) {
        // template flowset
        var p = off + 4
        while (p + 4 <= off + setLen) {
          val tid = u16(b, p)
          val nf = u16(b, p + 2)
          p += 4
          if (p + nf * 4 <= off + setLen) {
            val fields = (0 until nf).map { k =>
              (u16(b, p + k * 4), u16(b, p + k * 4 + 2), 0L)
            }
            cache.put(srcIp, sourceId, 9, tid, tsSec, Template(fields))
          }
          p += nf * 4
        }
      } else if (setId == 1 && ph.templates) {
        // options template flowset (RFC 3954 §6.1; reference
        // netflow.c:147-365): tid, scope length, option length (both in
        // BYTES), then scope specs then option specs. Scope types are
        // stored negated so they never hit the field dispatch.
        var p = off + 4
        var more = true
        while (more && p + 6 <= off + setLen) {
          val tid = u16(b, p)
          val scopeLen = u16(b, p + 2)
          val optLen = u16(b, p + 4)
          p += 6
          if (tid >= 256 && p + scopeLen + optLen <= off + setLen &&
              scopeLen % 4 == 0 && optLen % 4 == 0) {
            val scope = (0 until scopeLen / 4).map { k =>
              (-u16(b, p + k * 4) - 1, u16(b, p + k * 4 + 2), 0L)
            }
            val opts = (0 until optLen / 4).map { k =>
              (u16(b, p + scopeLen + k * 4),
                u16(b, p + scopeLen + k * 4 + 2), 0L)
            }
            cache.put(srcIp, sourceId, 9, tid, tsSec,
              Template(scope ++ opts, isOptions = true))
            p += scopeLen + optLen
          } else more = false // malformed/padding: stop this flowset
        }
      } else if (setId >= 256 && (ph.options || ph.flows)) {
        cache.get(srcIp, sourceId, 9, setId, tsSec).foreach { t =>
          val recLen = t.recLen
          if (recLen > 0 && t.isOptions && ph.options) {
            // options DATA: no flow rows — harvest the exporter's
            // sampling interval (fields 34 SAMPLING_INTERVAL /
            // 50 SAMPLER_RANDOM_INTERVAL), like the reference's
            // per-exporter option state
            var p = off + 4
            while (p + recLen <= off + setLen) {
              var q = p
              t.fields.foreach { case (fid, len, _) =>
                if ((fid == 34 || fid == 50) && len >= 1 && len <= 8) {
                  val v = be(b, q, len)
                  if (v > 0) cache.putSampling(srcIp, sourceId, tsSec, v)
                }
                q += len
              }
              p += recLen
            }
          } else if (recLen > 0 && !t.isOptions && ph.flows) {
            val sampling = cache.getSampling(srcIp, sourceId, tsSec)
            var p = off + 4
            while (p + recLen <= off + setLen) {
              val row = new Array[Any](outSchema.length)
              row(0) = tsSec
              var q = p
              t.fields.foreach { case (fid, len, _) =>
                setField(row, fid, b, q, len)
                q += len
              }
              if (row(sampSlot) == null)
                sampling.foreach(v => row(sampSlot) = v)
              row(devIpSlot) = srcIp
              out += row
              p += recLen
            }
          }
        }
      } // setId 2..255: reserved, skipped
      off += setLen
    }
    out.result()
  }

  private def decodeIpfix(b: Array[Byte], tsSec: Long, srcIp: Long,
                          cache: TemplateCache,
                          entMap: Map[(Long, Int), Int],
                          ph: Phase): Seq[Array[Any]] = {
    if (b.length < 16) return Nil
    val totalLen = math.min(u16(b, 2), b.length)
    val domainId = u32(b, 12)
    val out = Vector.newBuilder[Array[Any]]
    var off = 16
    while (off + 4 <= totalLen) {
      val setId = u16(b, off)
      val setLen = u16(b, off + 2)
      if (setLen < 4 || off + setLen > totalLen) return out.result()
      if (setId == 2 && ph.templates) {
        var p = off + 4
        while (p + 4 <= off + setLen) {
          val tid = u16(b, p)
          val nf = u16(b, p + 2)
          p += 4
          val fields = Vector.newBuilder[(Int, Int, Long)]
          var ok = true
          (0 until nf).foreach { _ =>
            if (p + 4 <= off + setLen) {
              val rawType = u16(b, p)
              val len = u16(b, p + 2)
              p += 4
              val ent =
                if ((rawType & 0x8000) != 0 && p + 4 <= off + setLen) {
                  val e = u32(b, p); p += 4; e
                } else 0L
              fields += (((rawType & 0x7fff), len, ent))
            } else ok = false
          }
          if (ok) cache.put(srcIp, domainId, 10, tid, tsSec,
            Template(fields.result()))
        }
      } else if (setId == 3 && ph.templates) {
        // IPFIX options template set (RFC 7011 §3.4.2.2): unlike v9's
        // byte lengths, the header carries FIELD counts — total field
        // count, then scope field count; the first `scope` specs are
        // scope fields (stored negated, like v9, so they never hit the
        // flow-field dispatch).
        var p = off + 4
        while (p + 6 <= off + setLen) {
          val tid = u16(b, p)
          val nf = u16(b, p + 2)
          val nScope = u16(b, p + 4)
          p += 6
          val fields = Vector.newBuilder[(Int, Int, Long)]
          var ok = tid >= 256 && nScope <= nf
          (0 until nf).foreach { k =>
            if (ok && p + 4 <= off + setLen) {
              val rawType = u16(b, p)
              val len = u16(b, p + 2)
              p += 4
              val ent =
                if ((rawType & 0x8000) != 0 && p + 4 <= off + setLen) {
                  val e = u32(b, p); p += 4; e
                } else 0L
              val fid = rawType & 0x7fff
              fields += ((if (k < nScope) -fid - 1 else fid, len, ent))
            } else ok = false
          }
          if (ok) cache.put(srcIp, domainId, 10, tid, tsSec,
            Template(fields.result(), isOptions = true))
          else p = off + setLen // malformed/padding: stop this set
        }
      } else if (setId >= 256 && (ph.options || ph.flows)) {
        cache.get(srcIp, domainId, 10, setId, tsSec).foreach { t =>
          val isOpt = t.isOptions
          if ((isOpt && ph.options) || (!isOpt && ph.flows)) {
            val sampling =
              if (isOpt) None
              else cache.getSampling(srcIp, domainId, tsSec)
            var p = off + 4
            // smallest record: every variable-length field takes at
            // least its 1-byte length prefix
            val minRecLen = t.fixedLen + t.varFields
            var continue = true
            while (continue && p < off + setLen &&
                   (off + setLen - p) >= minRecLen && minRecLen > 0) {
              val row = new Array[Any](outSchema.length)
              row(0) = tsSec
              var q = p
              t.fields.foreach { case (fid, len0, ent) =>
                if (continue) {
                  var len = len0
                  if (len == 65535) {
                    // RFC 7011 §7 variable-length: 1-byte, 255 → 2-byte
                    if (q >= off + setLen) { continue = false; len = 0 }
                    else {
                      val l0 = b(q) & 0xff
                      q += 1
                      if (l0 == 255) {
                        // 2-byte extended length must itself fit in the
                        // set — a truncated marker at the last byte would
                        // otherwise read past the buffer
                        if (q + 2 <= off + setLen) { len = u16(b, q); q += 2 }
                        else { continue = false; len = 0 }
                      } else len = l0
                    }
                  }
                  if (continue) {
                    if (q + len > off + setLen) continue = false
                    else {
                      if (isOpt) {
                        // options DATA: harvest the sampling interval
                        // (34 SAMPLING_INTERVAL, 50 SAMPLER_RANDOM_
                        // INTERVAL, 305 samplingSpaceInterval family)
                        if ((fid == 34 || fid == 50 || fid == 305) &&
                            ent == 0L && len >= 1 && len <= 8) {
                          val v = be(b, q, len)
                          if (v > 0)
                            cache.putSampling(srcIp, domainId, tsSec, v)
                        }
                      } else if (ent == 0L) setField(row, fid, b, q, len)
                      else entMap.get((ent, fid)) // configured vendor field
                        .foreach(m => setField(row, m, b, q, len))
                      q += len
                    }
                  }
                }
              }
              if (continue) {
                if (!isOpt) {
                  if (row(sampSlot) == null)
                    sampling.foreach(v => row(sampSlot) = v)
                  row(devIpSlot) = srcIp
                  out += row
                }
                p = q
              }
            }
          }
        }
      }
      off += setLen
    }
    out.result()
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
    * Callers whose packets are known time-ordered anyway pass
    * `orderIndependent = false` to skip buffering entirely. Streaming
    * ingest uses `orderIndependent = false` per micro-batch for the
    * same reason. */
  def decode(df: DataFrame, payloadCol: String = "payload",
             tsCol: String = "ts_sec",
             srcIpCol: String = "src_ip",
             entMap: Map[(Long, Int), Int] = defaultEnterpriseMap,
             orderIndependent: Boolean = true,
             bufferByteBudget: Long = 256L << 20)
      : DataFrame = {
    val proj = df.select(col(payloadCol), col(tsCol).cast(LongType),
      col(srcIpCol).cast(LongType))
    DecodeFlows.frame(proj, outSchema) { it =>
      val cache = new TemplateCache
      val packets = it.map(r => (r.getBinary(0), r.getLong(1),
        r.getLong(2)))
      def singlePass(rest: Iterator[(Array[Byte], Long, Long)]) =
        rest.flatMap { case (p, ts, src) =>
          decodePhase(p, ts, src, cache, entMap, PhaseAll)
        }
      if (orderIndependent) {
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
          singlePass(buf.iterator ++ packets)
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
      } else singlePass(packets)
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

  private def templateFileName(namespace: String, pid: Int): String =
    f"${safeNs(namespace)}-p$pid%05d.tmpl"

  /** Snapshot file for one (namespace, input partition). */
  private def templateFile(dir: String, namespace: String,
                           pid: Int): java.io.File = {
    val d = new java.io.File(dir)
    d.mkdirs()
    new java.io.File(d, templateFileName(namespace, pid))
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
  private[sources] def namespaceTemplateFiles(
      dir: String, namespace: String): Seq[java.io.File] = {
    val pat = nsFilePattern(namespace)
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => pat.matcher(f.getName).matches())
      .sortBy(_.getName)
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

  private def sweepStaleTmp(dir: String, namespace: String): Unit = {
    val pat = tmpFilePattern(namespace)
    val cutoff = System.currentTimeMillis() - staleTmpAgeMs
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.foreach {
      f =>
        if (pat.matcher(f.getName).matches() &&
            f.lastModified() < cutoff) f.delete()
    }
  }

  /** Hadoop-FS twin of [[sweepStaleTmp]]. */
  private def sweepStaleTmpFs(
      conf: org.apache.hadoop.conf.Configuration,
      dir: org.apache.hadoop.fs.Path, namespace: String): Unit = {
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

  /** Hadoop-FS twin of [[namespaceTemplateFiles]]. */
  private def namespaceTemplateFilesFs(
      conf: org.apache.hadoop.conf.Configuration,
      dir: org.apache.hadoop.fs.Path, namespace: String)
      : Seq[org.apache.hadoop.fs.Path] = {
    val pat = nsFilePattern(namespace)
    try rawFs(dir, conf).listStatus(dir).toSeq
      .map(_.getPath)
      .filter(p => pat.matcher(p.getName).matches())
      .sortBy(_.getName)
    catch { case _: java.io.FileNotFoundException => Nil }
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
    *   volume when executors are host-pinned). A dir WITH a URI
    *   scheme (`hdfs://nn/...`, `file:///...`, `s3a://...`) goes
    *   through the Hadoop FileSystem API — the cluster deployment
    *   shape, where the store must be reachable from whichever host a
    *   restarted task lands on; a bare path stays on fast local
    *   java.io. The file format is an explicit versioned binary
    *   record layout either way (see [[saveTemplates]]) — never Java
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
    // URI-scheme dirs route through Hadoop FS; the executor-side
    // closure needs the driver's Hadoop conf (S3 credentials, NN
    // address), shipped via the broadcast-safe wrapper. Scheme
    // detection parses the path — substring tests on "://" would
    // misroute legal single-slash URIs ("file:/x", Path.toString's
    // own rendering) onto java.io, which treats "file:/x" as a
    // RELATIVE local path and silently writes under the task cwd.
    val hadoopConf: Option[
        org.apache.spark.util.SerializableConfiguration] =
      templatesDir.filter(d =>
          new org.apache.hadoop.fs.Path(d).toUri.getScheme != null)
        .map(_ => new org.apache.spark.util.SerializableConfiguration(
          df.sparkSession.sparkContext.hadoopConfiguration))
    DecodeFlows.frame(proj, outSchema) { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val cache = streamCache(namespace, pid)
      templatesDir.foreach { dir =>
        // first touch after a (re)start merges EVERY partition's file
        // for the namespace — routing may have changed since the files
        // were written, see namespaceTemplateFiles. The restore mark
        // is set only AFTER the merge completes: the FS branch can
        // throw (transient NN/store outage), and marking first would
        // make the retried task skip the restore forever — a permanent
        // cold start with valid snapshots sitting on disk.
        val key = (namespace, pid)
        val firstTouch = !restoredOnce.contains(key)
        val persist: () => Unit = hadoopConf match {
          case Some(sc) =>
            val conf = sc.value
            val base = new org.apache.hadoop.fs.Path(dir)
            val f = new org.apache.hadoop.fs.Path(base,
              templateFileName(namespace, pid))
            if (firstTouch) {
              rawFs(base, conf).mkdirs(base)
              sweepStaleTmpFs(conf, base, namespace)
              namespaceTemplateFilesFs(conf, base, namespace).foreach(
                nf => loadTemplatesFs(conf, nf).foreach(s =>
                  cache.synchronized(cache.restore(s))))
              restoredOnce.add(key)
            }
            () => saveTemplatesFs(cache, conf, f)
          case None =>
            val f = templateFile(dir, namespace, pid)
            if (firstTouch) {
              sweepStaleTmp(dir, namespace)
              namespaceTemplateFiles(dir, namespace).foreach(nf =>
                loadTemplates(nf).foreach(s =>
                  cache.synchronized(cache.restore(s))))
              restoredOnce.add(key)
            }
            () => saveTemplates(cache, f)
        }
        // persist at task end — the cache then contains everything this
        // micro-batch learned; an empty batch re-writes the restored
        // content (never less: the cache is merge-only within a JVM)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try persist()
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
