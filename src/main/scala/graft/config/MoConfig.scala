package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.filter.{Compiler, FilterEnv}
import graft.operators.{Classification, Fwm, Mavg}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Monitoring-object configuration: the engine's `mo.conf`
  * (reference CONFIG.md:200-267, loaded by monit-objects.c:252-458).
  * JSON-with-comments; sections: `filter`, `fwm[]`, `mavg[]`,
  * `classification[]`. Monitoring objects nest (directory tree in the
  * reference, children here): a child's filter is applied ON TOP of its
  * parent's (recursive dispatch, reference netflow.c:214-244), which
  * compiles to a conjunction of predicates over one shared scan.
  */
object MoConfig {

  final case class FwmSection(name: String, fields: Seq[String],
                              timeSec: Long, limit: Option[Int],
                              extended: Boolean) {
    def conf: Fwm.Conf = Fwm.Conf(name, fields, timeSec, limit)
  }
  final case class OverlimitSection(name: String, default: Seq[Double],
                                    back2normSec: Long,
                                    actionScript: Option[String],
                                    back2normScript: Option[String],
                                    extNames: Seq[String],
                                    limitsFile: Option[String])
  final case class MavgSection(name: String, fields: Seq[String],
                               timeSec: Long,
                               overlimit: Seq[OverlimitSection])
  final case class ClsSection(fields: Seq[String], topPct: Double,
                              timeSec: Long, valField: String)

  final case class MonitoringObject(
      name: String,
      filter: String,
      fwm: Seq[FwmSection],
      mavg: Seq[MavgSection],
      classification: Seq[ClsSection],
      children: Seq[MonitoringObject])

  // JSON-with-comments like the reference's aajson (CONFIG.md:203) —
  // the parser-level feature understands string literals, so a trailing
  // "// seconds" strips and a filter VALUE containing "/*" survives
  // (a regex pre-strip gets both of those wrong)
  private val mapper = new ObjectMapper()
  mapper.configure(
    com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_COMMENTS, true)

  def parse(name: String, json: String,
            children: Seq[MonitoringObject] = Nil): MonitoringObject = {
    val root = mapper.readTree(json)
    val fwm = arr(root, "fwm").map { n =>
      FwmSection(
        name = opt(n, "name").map(_.asText).getOrElse("fwm"),
        fields = arr(n, "fields").map(_.asText),
        // absent OR explicit 0 → default: the reference substitutes
        // FWM_DEFAULT_TIMEOUT for time==0 with a warning
        // (monit-objects.c:343-349); 0 passed through would be a
        // divide-by-zero window
        timeSec = opt(n, "time").map(_.asLong).filter(_ != 0L)
          .getOrElse(30L), // reference monit-objects.h:10
        limit = opt(n, "limit").map(_.asInt),
        extended = opt(n, "extended").exists(_.asBoolean))
    }
    // sections are addressed by (mo, name) downstream; an unnamed
    // section is "fwm", so two of them collide
    val dups = fwm.map(_.name).diff(fwm.map(_.name).distinct).distinct
    require(dups.isEmpty, s"MO '$name': duplicate fwm section name(s) " +
      dups.map(d => s"'$d'").mkString(", ") +
      " (an unnamed section is named 'fwm')")
    MonitoringObject(
      name = name,
      filter = opt(root, "filter").map(_.asText).getOrElse(""),
      fwm = fwm,
      mavg = arr(root, "mavg").map { n =>
        MavgSection(
          name = opt(n, "name").map(_.asText).getOrElse("mavg"),
          fields = arr(n, "fields").map(_.asText),
          timeSec = opt(n, "time").map(_.asLong).filter(_ != 0L)
            .getOrElse(5L), // reference monit-objects.h:12 (0 → default
                            // like fwm: monit-objects.c:399-405)
          overlimit = arr(n, "overlimit").map { o =>
            OverlimitSection(
              name = opt(o, "name").map(_.asText).getOrElse("limit"),
              default = arr(o, "default").map(_.asDouble),
              back2normSec = opt(o, "back2norm-time").map(_.asLong)
                .getOrElse(30L), // reference monit-objects.h:14
              actionScript = opt(o, "action-script").map(_.asText),
              back2normScript = opt(o, "back2norm-script").map(_.asText),
              extNames = arr(o, "ext").map(_.asText),
              limitsFile = opt(o, "limits").map(_.asText))
          })
      },
      classification = arr(root, "classification").map { n =>
        ClsSection(
          fields = arr(n, "fields").map(_.asText),
          topPct = opt(n, "top-percents").map(_.asDouble).getOrElse(90.0),
          timeSec = opt(n, "time").map(_.asLong).filter(_ != 0L)
            .getOrElse(30L), // 0 → default (monit-objects.c:418-427)
          valField = opt(n, "val").map(_.asText).getOrElse("octets desc"))
      },
      children = children)
  }

  private def opt(n: JsonNode, f: String): Option[JsonNode] =
    Option(n.get(f)).filterNot(_.isNull)
  private def arr(n: JsonNode, f: String): Seq[JsonNode] =
    opt(n, f).map(_.elements().asScala.toSeq).getOrElse(Nil)

  /** One compiled fwm plan of a monitoring object. */
  final case class CompiledFwm(mo: String, section: FwmSection,
                               plan: DataFrame)

  /** Every node of an MO tree in pre-order with its effective filter:
    * its own predicate conjoined with its ancestors' (the reference's
    * recursive dispatch applies a child's filter on top of its
    * parent's, netflow.c:214-244). Each node's filter compiles once;
    * every consumer of the tree walks it through here. */
  def paths(mo: MonitoringObject,
            env: FilterEnv): Seq[(MonitoringObject, Column)] = {
    def walk(mo: MonitoringObject,
             parent: Column): Seq[(MonitoringObject, Column)] = {
      val pred = parent && Compiler.filterColumn(mo.filter, env)
        .fold(e => sys.error(s"MO '${mo.name}' filter: $e"), identity)
      (mo, pred) +: mo.children.flatMap(walk(_, pred))
    }
    walk(mo, lit(true))
  }

  /** Compile an MO tree over a flow DataFrame: one [[Fwm.batch]] plan
    * per fwm section of every node, over the node's [[paths]]
    * predicate (Catalyst merges the conjoined predicates into the
    * scan).
    *
    * @param includeExtended compile `"extended": true` sections too.
    *   Default false: extended windows aggregate ONLY while an alert
    *   holds them open (CONFIG.md:411; the streaming path gates them
    *   via ExtStatsGate), and a batch replay has no alert context — an
    *   unconditional compile would export the most expensive sections
    *   of the config over the entire input, output the reference never
    *   produces. Pass true for an explicit what-if backfill. */
  def compileTree(mo: MonitoringObject, flows: DataFrame, env: FilterEnv,
                  tsCol: Column, samplingRate: Option[Column],
                  includeExtended: Boolean = false): Seq[CompiledFwm] =
    paths(mo, env).flatMap { case (node, pred) =>
      node.fwm.filter(includeExtended || !_.extended).map(f =>
        CompiledFwm(node.name, f,
          Fwm.batch(flows.filter(pred), env, f.conf, tsCol, samplingRate)))
    }
}
