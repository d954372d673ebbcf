package graft.sinks

import graft.streaming.MavgStream.AlertRow

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Notification-file + action-script sink for mavg alert events
  * (reference monit-objects-mavg-act.c — on_limit:230-263,
  * on_update:265-293, on_back_to_norm:295-340, exec_script:120-189).
  *
  * Lifecycle, matching the reference:
  *  - `start`  → write the notification file, run the action script;
  *  - `update` → rewrite (refresh) the notification file;
  *  - `end`    → delete the notification file, run the back2norm script.
  *
  * File name (build_file_name:33-84): `{dir}/{mo}-{mavg}-{limit}-{key
  * fields joined by '-'}`, with `/`, `\`, `%`, control characters and
  * non-ASCII characters in each part percent-encoded (non-ASCII as
  * UTF-8 bytes): key fields such as `sni` or `dns-name` come from
  * packet bytes, and a `/` in one must not steer the file out of
  * `dir`, nor a non-ASCII one fail the path on a JVM whose file-name
  * encoding is not UTF-8; a name past 255 bytes is cut and tagged
  * with a hash of the whole name, since an SNI or DNS-name key can be
  * that long; content (build_file_content:86-118): key
  * fields space-separated, then the breaching value and the limit as
  * integers. Script argv (exec_script + STEP-BY-STEP.md:934-973):
  * `script mo mavg limit-name notification-file fields... value limit`.
  *
  * Every script launch is appended to `{dir}/invocations.log` (one
  * tab-separated argv per line) so alert automation is auditable and
  * testable; with `execute=true` the script is ALSO really started,
  * detached and never waited on — the analog of the reference's
  * double-fork + setsid.
  *
  * Runs inside `foreachBatch` on the driver. Alert events are
  * post-threshold and post-hysteresis — a bounded trickle, not flow
  * volume — so driver-side file IO is the right shape (the reference
  * serializes the same work through one act thread).
  */
object AlertSink {

  /** Per-limit config (reference struct mavg_limit: name + scripts). */
  final case class Limit(name: String,
                         actionScript: Option[String] = None,
                         back2normScript: Option[String] = None)

  final case class Conf(notifDir: String, moName: String, mavgName: String,
                        limits: Seq[Limit], execute: Boolean = false)

  /** One file-name part in printable ASCII: the path separators,
    * `%`, control characters and every non-ASCII character are
    * percent-encoded as their UTF-8 bytes (`é` → `%C3%A9`), so a name
    * never depends on the JVM's file-name encoding
    * (`sun.jnu.encoding`), which under a C/POSIX locale cannot map
    * non-ASCII text at all; everything else stays as it is. */
  private def pathSafe(part: String): String = {
    val sb = new StringBuilder
    part.codePoints().forEach { cp =>
      if (cp < 0x20 || cp > 0x7e || cp == '/' || cp == '\\' || cp == '%')
        new String(Character.toChars(cp)).getBytes(StandardCharsets.UTF_8)
          .foreach(b => sb.append(f"%%${b & 0xff}%02X"))
      else sb.append(cp.toChar)
    }
    sb.toString
  }

  /** A file name cut to the 255-byte limit of common filesystems (the
    * name is ASCII, so bytes are characters): a longer one keeps its
    * first 238 characters and ends in `~` plus 16 hex digits of its
    * SHA-256, so distinct long keys keep distinct files. */
  private def capped(name: String): String =
    if (name.length <= 255) name
    else {
      val tag = "~" + java.security.MessageDigest.getInstance("SHA-256")
        .digest(name.getBytes(StandardCharsets.US_ASCII)).take(8)
        .map(b => f"${b & 0xff}%02x").mkString
      name.take(255 - tag.length) + tag
    }

  /** Event precedence inside one batch at equal timestamps. */
  private val eventOrder = Map("start" -> 0, "update" -> 1, "end" -> 2)
}

final class AlertSink(conf: AlertSink.Conf) extends Serializable {
  import AlertSink._

  private def limit(idx: Int): Limit =
    conf.limits.lift(idx).getOrElse(Limit(s"limit$idx"))

  /** Mavg group keys arrive '|'-joined (Pipeline mavg branch). */
  private def keyFields(key: String): Seq[String] =
    key.split("\\|", -1).toSeq

  def fileName(limitName: String, fields: Seq[String]): Path = {
    val dir = Paths.get(conf.notifDir)
    val file = dir.resolve(capped((Seq(conf.moName, conf.mavgName,
      limitName) ++ fields).map(pathSafe).mkString("-")))
    require(file.toAbsolutePath.normalize.getParent ==
      dir.toAbsolutePath.normalize,
      s"AlertSink: notification file '$file' escapes '${conf.notifDir}'")
    file
  }

  private def content(fields: Seq[String], value: Double,
                      lim: Double): String =
    (fields ++ Seq(value.toLong.toString, lim.toLong.toString))
      .mkString(" ")

  private def argv(script: String, limitName: String, file: Path,
                   fields: Seq[String], value: Double,
                   lim: Double): Seq[String] =
    Seq(script, conf.moName, conf.mavgName, limitName, file.toString) ++
      fields ++ Seq(value.toLong.toString, lim.toLong.toString)

  private def invoke(args: Seq[String]): Unit = {
    val log = Paths.get(conf.notifDir, "invocations.log")
    Files.write(log, (args.mkString("\t") + "\n")
      .getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    if (conf.execute) {
      // fire-and-forget, like the reference's double-fork + setsid:
      // stdout/stderr discarded (an undrained pipe blocks the child at
      // ~64KB forever), stdin from /dev/null — truly detached
      try {
        val pb = new ProcessBuilder(args: _*)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        pb.redirectInput(new java.io.File("/dev/null"))
        pb.start()
      } catch { case e: java.io.IOException =>
        System.err.println(s"AlertSink: can't start '${args.head}': " +
          e.getMessage) }
    }
  }

  /** Apply a batch of alert events in deterministic order. */
  def handle(events: Seq[AlertRow]): Unit = {
    Files.createDirectories(Paths.get(conf.notifDir))
    events.sortBy(e => (e.timeNs, e.key,
      eventOrder.getOrElse(e.event, 3))).foreach { e =>
      val lim = limit(e.limitIdx)
      val fields = keyFields(e.key)
      val file = fileName(lim.name, fields)
      e.event match {
        case "start" =>
          Files.write(file, content(fields, e.value, e.limit)
            .getBytes(StandardCharsets.UTF_8))
          lim.actionScript.foreach(s =>
            invoke(argv(s, lim.name, file, fields, e.value, e.limit)))
        case "update" =>
          // reference on_update fopen("w")s unconditionally — refresh
          // recreates the file even if it vanished underneath
          Files.write(file, content(fields, e.value, e.limit)
            .getBytes(StandardCharsets.UTF_8))
        case "end" =>
          Files.deleteIfExists(file)
          lim.back2normScript.foreach(s =>
            invoke(argv(s, lim.name, file, fields, e.value, e.limit)))
        case other =>
          System.err.println(s"AlertSink: unknown event '$other' ignored")
      }
    }
  }
}
