package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.config.MoConfig
import graft.config.MoConfig.MonitoringObject
import graft.filter.{Compiler, FieldSpec, FilterEnv}
import graft.operators.{Classification, Fwm, Mavg, SharedFwm}
import graft.sinks.SqlExport
import graft.sources.{NetflowDecoder, SflowDecoder}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import perfbench.Reference.{FwmRow, Tally}

/** What every workload shares: the session, the run's seed and budget,
  * a private work directory, the span recorder and the engine counters. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     work: File, spans: Spans, engine: EngineCounters) {
  def path(rel: String): String = new File(work, rel).getAbsolutePath
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** One pass of a batch pipeline: wall time until the first and until the
  * last result reached its sink, the result rows, the checker's verdict,
  * and each result's own time. */
final case class Pass(firstSinkS: Double, totalS: Double, rowsOut: Long,
                      tally: Tally, parts: Map[String, Double] = Map.empty)

/** A batch workload: repeatable set-up, one full pipeline pass, and the
  * prefix pipelines of its layer ladder. */
abstract class BatchWorkload(val ctx: Ctx) {
  import ctx.spark

  val env: FilterEnv = FilterEnv.flow(spark)
  def flowsIn: Long

  /** Fixture generation; timed and repeated, its median goes into
    * setup_s. */
  def generate(): Unit
  /** One-time preparation before the warm-up passes; timed once into
    * setup_s together with them. */
  def prepare(): Unit = ()
  /** Expected results, computed once after set-up (not timed). */
  def prepareReference(): Unit
  def pass(): Pass

  /** Ladder rungs below the full pipeline, outermost first; the top rung
    * ("sink") is [[pass]] itself. Each rung returns when its output is
    * fully consumed, with the own time of each result it computed (none
    * for a single-result pipeline). */
  def ladder: Seq[(String, () => Map[String, Double])]
  /** Per-layer metrics from the ladder's median rung times and counts. */
  def layers(rung: Map[String, Double]): Map[String, Double]

  // ------------------------------------------------------------ helpers

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  protected def single(body: => Unit): () => Map[String, Double] =
    () => { body; Map.empty }

  /** Path-conjoined predicate of every MO node, root first. */
  protected def paths(mo: MonitoringObject,
                      parent: Column = lit(true)): Seq[(MonitoringObject, Column)] = {
    val pred = parent && Compiler.filterColumn(mo.filter, env)
      .fold(e => sys.error(s"MO '${mo.name}' filter: $e"), identity)
    (mo, pred) +: mo.children.flatMap(paths(_, pred))
  }

  protected def spec(field: String): FieldSpec =
    FieldSpec.parse(field).fold(e => sys.error(e), identity)

  /** measure × scale × sampling rate, as the fwm layer computes it. */
  protected def weighted(measure: String): Column = {
    val m = spec(measure)
    env.measures(m.name) * lit(m.scale) * col("sampling_rate")
  }

  /** Sink: the SQL export text of one result, written to a file. */
  protected def export(rows: Array[Row], df: DataFrame, mo: String,
                       table: String, ipCols: Set[String]): Long = {
    val local = spark.createDataFrame(rows.toSeq.asJava, df.schema)
    val sql = SqlExport.exportSql(local,
      SqlExport.Conf(mo, table, ipCols = ipCols))
    val f = new File(ctx.work, s"out/${mo}_$table.sql")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, sql.getBytes("UTF-8"))
    sql.length.toLong
  }

  protected def fwmRows(rows: Array[Row], s: Mo.Fwm): Map[Long, Seq[FwmRow]] =
    rows.toSeq.groupBy(_.getAs[Long]("time")).map { case (w, rs) =>
      w -> rs.map { r =>
        val ks = s.keys.map(k => r.getAs[Any](k.sql))
        FwmRow(if (ks.forall(_ == null)) Nil
               else ks.map(_.asInstanceOf[Long]),
          r.getAs[Long](s.measure.text))
      }
    }

  protected def bucket(timeSec: Long)(f: Gen.Flow): Long =
    f.ts - f.ts % timeSec
}

/** Reads a capture written by [[Gen.writeCapture]] and decodes it. */
final class CaptureFiles(spark: SparkSession, dir: String) {
  lazy val hasSflow: Boolean = new File(dir, "sflow").isDirectory

  def rawNetflow: DataFrame =
    spark.read.format("pktdump").load(s"$dir/netflow")
  def rawSflow: DataFrame = spark.read.format("pktdump").load(s"$dir/sflow")
  def raw: DataFrame =
    if (hasSflow) rawNetflow.union(rawSflow) else rawNetflow
  /** Every decoded column; callers select what they read, and Catalyst
    * prunes the decoder's row encoding to those columns. */
  def decoded: DataFrame = {
    val nf = NetflowDecoder.decode(rawNetflow)
    if (hasSflow) nf.union(SflowDecoder.decode(rawSflow)) else nf
  }
}

object Sizes {
  /** netflow_fwm capture: 8 exporters × this many packets × 25 records. */
  val fwmPacketsPerExporter = 3000
  /** flow_archive capture: the same shape; a full-width pass with its
    * write costs several pruned passes per flow. */
  val archivePacketsPerExporter = 1000
  val captureSpanSec = 600L
  /** Packets per capture file (a multiple of the re-announce interval). */
  val chunkPackets = 1500
  /** mo_fanout: MOs in the tree (root + children) and its capture. */
  val fanoutMos = 24
  val fanoutPacketsPerExporter = 2000
}

// ====================================================================
//  netflow_fwm: capture → decode → 2-MO tree → SqlExport
// ====================================================================

object NetflowFwm {
  /** Physical columns the pipeline reads (for the ladder's prefixes). */
  val readCols: Seq[String] = Seq("ts_sec", "sampling_rate", "ip4_dst_addr",
    "protocol", "l4_dst_port", "l4_src_port", "in_bytes", "in_pkts")
}

final class NetflowFwm(c: Ctx) extends BatchWorkload(c) {
  import ctx.spark

  val tree: Mo.Node = Mo.netflowTree
  private val files = new CaptureFiles(spark, ctx.path("capture"))
  import files.{decoded, raw}
  private var cap: Gen.Capture = _
  private var mo: MonitoringObject = _
  def flowsIn: Long = cap.flows.size.toLong
  def packets: Long = cap.packets.size.toLong

  def generate(): Unit = {
    cap = Gen.capture(ctx.seed, Gen.batchDims, Sizes.fwmPacketsPerExporter,
      Sizes.captureSpanSec)
    Gen.writeCapture(cap, ctx.path("capture"), Sizes.chunkPackets)
  }

  override def prepare(): Unit =
    mo = ctx.spans.span("config.compile")(tree.parsed)

  private var expected: Map[String, Any] = Map.empty
  def prepareReference(): Unit = {
    val rate = cap.sampling _
    expected = tree.flatten().flatMap { case (n, pred) =>
      val fs = cap.flows.filter(pred)
      n.fwm.map(s => s.name -> Reference.fwm(fs, rate, s,
        bucket(s.timeSec))) ++
        n.mavg.map(m => m.name -> Reference.mavgFinal(fs, rate, m)) ++
        n.cls.map(cl => s"cls_${n.name}" -> Reference.classes(fs, rate, cl))
    }.toMap
  }

  /** One branch per result: (result name, rung builders). */
  private final case class Branch(name: String, mo: String,
                                  filter: DataFrame => DataFrame,
                                  aggregate: DataFrame => DataFrame,
                                  finish: DataFrame => DataFrame,
                                  ipCols: Set[String])

  private def branches: Seq[Branch] = {
    paths(mo).flatMap { case (node, pred) =>
      val fwms = node.fwm.map { f =>
        val conf = Fwm.Conf(f.name, f.fields, f.timeSec, f.limit)
        Branch(f.name, node.name, _.filter(pred),
          Fwm.aggregate(_, env, conf, col("ts_sec"),
            Some(col("sampling_rate"))),
          Fwm.finishWindows(_, conf), Set("dst_host"))
      }
      val mavgs = node.mavg.map { m =>
        val key = spec(m.fields.head)
        val conf = Mavg.Conf(Seq(key.sqlName), "ts_sec", "tie", "v",
          m.timeSec)
        val agg: DataFrame => DataFrame = df => Mavg.decayedFinal(
          df.select(key.column(env).as(key.sqlName), col("ts_sec"),
            col("l4_src_port").as("tie"), weighted(m.fields(1)).as("v")),
          conf)
        Branch(m.name, node.name, _.filter(pred), agg, identity,
          Set(key.sqlName))
      }
      val clss = node.classification.map { cl =>
        val key = spec(cl.fields.head)
        val measure = cl.valField.split("\\s+").head
        val conf = Classification.Conf(Seq(key.sqlName), measure,
          cl.topPct, concat(lit(s"${key.sqlName}-"), col(key.sqlName)))
        val agg: DataFrame => DataFrame = df => Classification.classTable(
          df.select(key.column(env).as(key.sqlName),
            weighted(measure).as("v")), conf, col("v"))
        Branch(s"cls_${node.name}", node.name, _.filter(pred), agg,
          identity, Set.empty)
      }
      fwms ++ mavgs ++ clss
    }
  }

  /** Runs the parts one after the other; returns each part's result and
    * its own duration in seconds. */
  private def inTurn[A](parts: Seq[(String, () => A)])
      : Seq[(String, A, Double)] =
    parts.map { case (name, f) =>
      val t0 = System.nanoTime()
      val a = ctx.spans.span(s"result.$name")(f())
      (name, a, secs(t0))
    }

  def pass(): Pass = {
    val t0 = System.nanoTime()
    val flows = decoded
    def sink(name: String, moName: String, df: DataFrame,
             ipCols: Set[String]): Array[Row] = {
      val rows = ctx.spans.span("operators.collect")(df.collect())
      ctx.spans.span("sinks.export")(export(rows, df, moName, name, ipCols))
      rows
    }
    val plans = ctx.spans.span("filter.plan")(
      MoConfig.compileTree(mo, flows, env, col("ts_sec"),
        Some(col("sampling_rate"))))
    val done = inTurn(
      plans.map(p => p.section.name -> (() =>
        sink(p.section.name, p.mo, p.plan, Set("dst_host")))) ++
      branches.filterNot(b => plans.exists(_.section.name == b.name))
        .map(b => b.name -> (() =>
          sink(b.name, b.mo, b.aggregate(b.filter(flows)), b.ipCols))))
    val total = secs(t0)
    // the first result is written once the planning before it and its
    // own part are done
    Pass(total - done.drop(1).map(_._3).sum, total,
      done.map(_._2.length.toLong).sum,
      check(done.map(d => d._1 -> d._2).toMap),
      done.map(d => d._1 -> d._3).toMap)
  }

  private def check(results: Map[String, Array[Row]]): Tally =
    if (expected.isEmpty) Reference.NoTally // warm-up pass
    else tree.flatten().map(_._1).map { n =>
      n.fwm.map(s => Reference.compareFwm(s.name,
        expected(s.name).asInstanceOf[Map[Long, Seq[FwmRow]]],
        fwmRows(results(s.name), s))).fold(Reference.NoTally)(_ + _) +
      n.mavg.map(m => Reference.compareMap(m.name,
        expected(m.name).asInstanceOf[Map[Long, (Long, Long)]],
        results(m.name).map(r => r.getLong(0) ->
          ((r.getAs[Long]("n"), r.getAs[Long]("t_last")))).toMap))
        .fold(Reference.NoTally)(_ + _) +
      n.cls.map(cl => Reference.compareMap(s"cls_${n.name}",
        expected(s"cls_${n.name}").asInstanceOf[Map[Long, Long]],
        results(s"cls_${n.name}").map(r => r.getLong(0) -> r.getLong(1))
          .toMap)).fold(Reference.NoTally)(_ + _)
    }.fold(Reference.NoTally)(_ + _)

  private def cols(df: DataFrame): DataFrame =
    df.select(NetflowFwm.readCols.map(col): _*)

  /** Rungs: the pipeline cut after each layer, for every result (each
    * result re-reads the capture, as the pipeline does). Each result's
    * own time is kept too, which attributes operator time to the result
    * kinds. */
  def ladder: Seq[(String, () => Map[String, Double])] = {
    val bs = branches
    def rung(f: Branch => Unit): () => Map[String, Double] = () =>
      inTurn(bs.map(b => b.name -> (() => f(b))))
        .map(d => d._1 -> d._3).toMap
    Seq(
      "scan" -> rung(_ => noop(raw)),
      "decode" -> rung(_ => noop(cols(decoded))),
      "filter" -> rung(b => noop(cols(b.filter(decoded)))),
      "aggregate" -> rung(b => noop(b.aggregate(b.filter(decoded)))),
      "finish" -> rung(b => noop(b.finish(b.aggregate(b.filter(decoded))))))
  }

  def layers(r: Map[String, Double]): Map[String, Double] = {
    val nDecoded = decoded.count()
    val nPassing = decoded.filter(paths(mo).head._2).count()
    val out = pass()
    val bs = branches
    // Σ over one kind's results of (rung `hi` − rung `lo`) per result
    def self(kind: Branch => Boolean, lo: String, hi: String): Double =
      bs.filter(kind).map(b => r(s"$hi/${b.name}") - r(s"$lo/${b.name}")).sum
    val isMavg = (b: Branch) => tree.flatten().exists(_._1.mavg
      .exists(_.name == b.name))
    val isCls = (b: Branch) => b.name.startsWith("cls_")
    val isFwm = (b: Branch) => !isMavg(b) && !isCls(b)
    val compile = Seq.fill(5) {
      val t0 = System.nanoTime(); tree.parsed; secs(t0)
    }
    Map(
      "sources.scan_s" -> r("scan"),
      "sources.decode_s" -> (r("decode") - r("scan")),
      "sources.packets_in" -> packets.toDouble,
      "sources.flows_out" -> nDecoded.toDouble,
      "sources.decode_loss_frac" -> (flowsIn - nDecoded).toDouble / flowsIn,
      "config.compile_s" -> Stats.median(compile),
      "filter.self_s" -> (r("filter") - r("decode")),
      "filter.pass_frac" -> nPassing.toDouble / math.max(1L, nDecoded),
      "operators.fwm_agg_s" -> self(isFwm, "filter", "aggregate"),
      "operators.topn_s" -> self(isFwm, "aggregate", "finish"),
      "operators.mavg_s" -> self(isMavg, "filter", "aggregate"),
      "operators.classify_s" -> self(isCls, "filter", "aggregate"),
      "operators.groups_out" -> out.rowsOut.toDouble,
      "sinks.export_s" -> (r("sink") - r("finish")))
  }
}

// ====================================================================
//  flow_archive: capture → decode of every column → parquet archive
// ====================================================================

final class FlowArchive(c: Ctx) extends BatchWorkload(c) {
  import ctx.spark

  private val files = new CaptureFiles(spark, ctx.path("capture"))
  import files.{decoded, raw}
  def archiveDir: String = ctx.path("archive")
  private var cap: Gen.Capture = _
  def flowsIn: Long = cap.flows.size.toLong

  def generate(): Unit = {
    cap = Gen.capture(ctx.seed, Gen.batchDims,
      Sizes.archivePacketsPerExporter, Sizes.captureSpanSec)
    Gen.writeCapture(cap, ctx.path("capture"), Sizes.chunkPackets)
  }

  /** Expected per exporter address: flows, Σbytes, Σpackets, Σdst, Σports. */
  private var expected: Map[Long, Seq[Long]] = Map.empty
  def prepareReference(): Unit = {
    expected = cap.flows.groupBy(f => cap.exporters(f.exp).ip).map {
      case (ip, fs) => ip -> Seq(fs.size.toLong, fs.map(_.bytes).sum,
        fs.map(_.pkts).sum, fs.map(_.dst).sum,
        fs.map(f => f.sport.toLong + f.dport).sum,
        fs.map(f => cap.sampling(f.exp)).sum)
    }
  }

  private def write(df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(archiveDir)

  def pass(): Pass = {
    val t0 = System.nanoTime()
    ctx.spans.span("sinks.archive_write")(write(decoded))
    val total = secs(t0)
    Pass(total, total, flowsIn, check())
  }

  /** Read the archive back with the plain parquet reader. */
  private def check(): Tally = if (expected.isEmpty) Reference.NoTally else {
    val got = spark.read.parquet(archiveDir).groupBy("dev_ip")
      .agg(count(lit(1)), sum("in_bytes"), sum("in_pkts"),
        sum("ip4_dst_addr"), sum(col("l4_src_port") + col("l4_dst_port")),
        sum("sampling_rate"))
      .collect().map(r => r.getLong(0) -> (1 to 6).map(r.getLong)).toMap
    Reference.compareMap("archive", expected, got.map { case (k, v) =>
      k -> v.toSeq })
  }

  def ladder: Seq[(String, () => Map[String, Double])] = Seq(
    "scan" -> single(noop(raw)),
    "decode" -> single(noop(decoded.select(NetflowFwm.readCols.map(col): _*))),
    "materialize" -> single(noop(decoded)))

  def layers(r: Map[String, Double]): Map[String, Double] = {
    val nDecoded = decoded.count()
    val files = Option(new File(archiveDir).listFiles()).getOrElse(
      Array.empty[File]).filter(_.getName.endsWith(".parquet"))
    Map(
      "sources.scan_s" -> r("scan"),
      "sources.decode_s" -> (r("decode") - r("scan")),
      "sources.materialize_s" -> (r("materialize") - r("decode")),
      "sources.packets_in" -> cap.packets.size.toDouble,
      "sources.flows_out" -> nDecoded.toDouble,
      "sources.decode_loss_frac" -> (flowsIn - nDecoded).toDouble / flowsIn,
      "sinks.archive_write_s" -> (r("sink") - r("materialize")),
      "sinks.rows_out" -> spark.read.parquet(archiveDir).count().toDouble,
      "sinks.bytes_out" -> files.map(_.length).sum.toDouble)
  }
}

// ====================================================================
//  mo_fanout: decoded parquet archive → many MOs via SharedFwm.batchAll
// ====================================================================

final class MoFanout(c: Ctx) extends BatchWorkload(c) {
  import ctx.spark

  val tree: Mo.Node = Mo.fanoutTree(Sizes.fanoutMos)
  def archiveDir: String = ctx.path("archive")
  private var cap: Gen.Capture = _
  private var sections: Seq[SharedFwm.Section] = Nil
  def flowsIn: Long = cap.flows.size.toLong
  private val defs: Map[String, Mo.Fwm] =
    tree.flatten().flatMap(_._1.fwm).map(s => s.name -> s).toMap

  val readCols: Seq[String] = Seq("ts_sec", "sampling_rate", "ip4_dst_addr",
    "ip4_src_addr", "protocol", "l4_dst_port", "l4_src_port", "in_bytes",
    "in_pkts", "input_snmp", "output_snmp")

  /** The archive is written once with the engine's decoder; decode is
    * not part of this workload's pipeline. */
  def generate(): Unit = {
    cap = Gen.capture(ctx.seed, Gen.batchDims,
      Sizes.fanoutPacketsPerExporter, Sizes.captureSpanSec)
    Gen.writeCapture(cap, ctx.path("capture"), Sizes.chunkPackets)
  }

  /** The archive is decoded once, by the engine's decoder, into the
    * flow columns an MO tree reads; decode is not part of this
    * workload's pipeline. */
  override def prepare(): Unit = {
    new CaptureFiles(spark, ctx.path("capture")).decoded
      .select(readCols.map(col): _*)
      .write.mode("overwrite").parquet(archiveDir)
    sections = ctx.spans.span("config.compile")(
      SharedFwm.sections(tree.parsed, env))
  }

  def compileS(): Double = {
    val t0 = System.nanoTime()
    SharedFwm.sections(tree.parsed, env)
    secs(t0)
  }

  private var expected: Map[String, Map[Long, Seq[FwmRow]]] = Map.empty
  def prepareReference(): Unit = {
    val rate = cap.sampling _
    expected = tree.flatten().flatMap { case (n, pred) =>
      val fs = cap.flows.filter(pred)
      n.fwm.map(s => s.name -> Reference.fwm(fs, rate, s,
        bucket(s.timeSec)))
    }.toMap
  }

  private def flows: DataFrame = spark.read.parquet(archiveDir)

  /** One shared pass: every section's windows × keys in one aggregate,
    * collected once; the sink splits it into one table per section. */
  def pass(): Pass = {
    val t0 = System.nanoTime()
    val combined = ctx.spans.span("operators.shared_fwm")(
      SharedFwm.batchAll(flows, env, sections, col("ts_sec"),
        Some(col("sampling_rate"))))
    val rows = ctx.spans.span("operators.collect")(combined.collect())
    val bySection = rows.groupBy(r => (r.getAs[String]("mo"),
      r.getAs[String]("section")))
    var first = -1.0
    val results = sections.map { s =>
      val d = defs(s.conf.name)
      val schema = StructType(combined.schema("time") +:
        d.keys.map(k => combined.schema(k.sql)) :+
        combined.schema(d.measure.text))
      val own = bySection.getOrElse((s.mo, s.conf.name), Array.empty[Row])
        .map(r => new GenericRowWithSchema(schema.fieldNames.map(
          r.getAs[Any]), schema): Row)
      ctx.spans.span("sinks.export")(export(own,
        spark.createDataFrame(java.util.List.of[Row](), schema), s.mo,
        s.conf.name, Set("dst_host")))
      if (first < 0) first = secs(t0)
      s.conf.name -> own
    }
    val total = secs(t0)
    Pass(first, total, rows.length.toLong,
      if (expected.isEmpty) Reference.NoTally
      else results.map { case (name, rows) =>
        Reference.compareFwm(name, sortedWindows(expected(name)),
          sortedWindows(fwmRows(rows, defs(name))))
      }.fold(Reference.NoTally)(_ + _))
  }

  /** Sections have no limit and the aggregate is unordered: compare
    * each window's rows as a set. */
  private def sortedWindows(m: Map[Long, Seq[FwmRow]]): Map[Long, Seq[FwmRow]] =
    m.map { case (w, rs) => w -> rs.sortBy(r => (r.keys.mkString(","), r.value)) }

  private def prefilter(df: DataFrame): DataFrame =
    df.where(sections.map(_.pred).reduce(_ || _))

  def ladder: Seq[(String, () => Map[String, Double])] = {
    def cols(df: DataFrame) = df.select(readCols.map(col): _*)
    Seq(
      "scan" -> single(noop(cols(flows))),
      "filter" -> single(noop(cols(prefilter(flows)))),
      "aggregate" -> single(noop(SharedFwm.batchAll(flows, env, sections,
        col("ts_sec"), Some(col("sampling_rate"))))))
  }

  def layers(r: Map[String, Double]): Map[String, Double] = {
    val n = flows.count()
    val passing = prefilter(flows).count()
    val matches = tree.flatten().map { case (node, pred) =>
      cap.flows.count(pred).toLong * node.fwm.size }.sum
    Map(
      "sources.scan_s" -> r("scan"),
      "sources.decode_s" -> 0.0,
      "sources.flows_out" -> n.toDouble,
      "config.compile_s" -> Stats.median(Seq.fill(5)(compileS())),
      "filter.self_s" -> (r("filter") - r("scan")),
      "filter.pass_frac" -> passing.toDouble / math.max(1L, n),
      "operators.shared_fwm_s" -> (r("aggregate") - r("filter")),
      "operators.fanout_rows_per_flow" -> matches.toDouble / flowsIn,
      "sinks.export_s" -> (r("sink") - r("aggregate")))
  }
}
