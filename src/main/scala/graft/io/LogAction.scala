package graft.io

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import scala.collection.immutable.ArraySeq

import com.fasterxml.jackson.core.{JacksonException, JsonFactory, JsonGenerator, JsonParser, JsonToken}
import com.fasterxml.jackson.core.io.SerializedString

import CommitLog.ColStat

/** One line of a commit-log file (a commit or a checkpoint summary): one
  * JSON object per line, in the shape of the public Delta Lake log
  * (Armbrust et al., VLDB 2020). Every string field is JSON-escaped, so any
  * name the engine accepts — quotes, backslashes, newlines, control
  * characters, non-ASCII — round-trips.
  *
  * Replay applies one file's actions PHASE-ordered, not line-ordered: all
  * adds, then all removes, then every `dv`, then the declarations
  * (see `CommitLog.applyParsed`). */
private[graft] sealed trait LogAction

private[graft] object LogAction {

  /** Header line: `{"op":"append"}`. Checkpoint summaries also carry the
    * version they roll up: `{"op":"checkpoint","version":N}`. */
  final case class Op(op: String, version: Option[Long] = None) extends LogAction

  /** A file's [lo, hi] range on the table's clustering column. `col`
    * NAMES that column (physical name, or a `z(px,py)` spec), which is
    * what lets a SQL reader that only sees pushed Filters match the range
    * safely; ranges on an UNNAMED column are still served to the Scala
    * API's explicit prunedFiles(column-known-to-caller) path, but never
    * matched against a filter by name. */
  final case class Zone(lo: Long, hi: Long, col: Option[String] = None)

  /** A data file becomes live, with everything its footer told the writer:
    *  - `zone`: the clustering range (above);
    *  - `rows`: the footer row count — what makes count(*) a metadata-only
    *    answer;
    *  - `bytes`: on-disk size — what lets a SQL reader's Scan report real
    *    table statistics to Catalyst (auto-broadcast of small snapshots)
    *    without touching the filesystem at planning time;
    *  - `mstats`: per-column typed [lo, hi] on integral columns (the Delta
    *    stats-for-first-N-columns design), in the compact form
    *    "a=1:9,b=-3:4". Annotated-int columns carry a UNIT-FAITHFUL type
    *    tag: "d=d19000:19400" (DateType, epoch DAYS — the exact INT32 value
    *    parquet stores), "ts=t1700000000000000:..." (timestamps, epoch
    *    MICROS — MILLIS/NANOS normalized on harvest), "p=c2.100:999"
    *    (decimal, UNSCALED value at the annotated scale). A bare range
    *    stays a plain signed int, so old logs decode unchanged;
    *  - `sstats`: string zone bounds, kept out of mstats because the values
    *    are bytes, not longs: "col=<b64lo>:<b64hi>" in URL-safe unpadded
    *    base64. lo is the UTF-8 min truncated to 32 bytes; hi the max
    *    truncated with the last byte INCREMENTED when truncation dropped
    *    anything (Delta's 32-char prefix convention — a safe upper bound);
    *  - `bloomed`: an m-bit key bloom over the declared bloom column sits
    *    in the SIDECAR `<file>.bloom` (the Delta/Iceberg bloom-index
    *    design). Sidecars, not inline bytes, on measured evidence: an
    *    inline bloom made EVERY replay decode every live file's filter
    *    (~100 KB each), turning all metadata reads ∝ table (LogProbe tier
    *    A3: 0.67/1.13/3.39 s at 1×/4×/16×). The line carries one flag; the
    *    bits load lazily per requested file. This is what keeps
    *    hash-keyed ingest dedup ∝ batch: a fresh batch's keys miss almost
    *    every per-file bloom, so the duplicate check reads almost nothing.
    * An add of an already-live file replaces its whole recorded state and
    * clears its deletion vector (fresh content). */
  final case class Add(file: String,
                       zone: Option[Zone] = None,
                       rows: Option[Long] = None,
                       bytes: Option[Long] = None,
                       mstats: Map[String, ColStat] = Map.empty,
                       sstats: Map[String, (ArraySeq[Byte], ArraySeq[Byte])] = Map.empty,
                       bloomed: Boolean = false) extends LogAction

  /** A file stops being live; its recorded state and vector go with it. */
  final case class Remove(file: String) extends LogAction

  /** Transaction marker (the public Delta SetTransaction shape): an
    * application-level id committed atomically WITH its data, so a
    * replayed batch is recognized and skipped — exactly-once ingest.
    * Markers accumulate and survive checkpoints. */
  final case class Txn(id: String) extends LogAction

  /** Declared table schema (the Delta `metaData` analogue), StructType
    * JSON; written base64-encoded as `schema64`. The LAST declaration at
    * or below the read version wins; tables that never declared one
    * derive their schema from the data files. */
  final case class Schema(json: String) extends LogAction

  /** Clustering spec: writes range-partition on the column and record zone
    * ranges without the writer having to know (`CREATE TABLE ...
    * PARTITIONED BY (bucket(n, col))`). Last declaration wins. */
  final case class ClusterBy(spec: String, buckets: Int) extends LogAction

  /** A DROP COLUMN reserves the dropped column's PHYSICAL name so no later
    * ADD/RENAME can reuse it — old data files still carry those bytes, and
    * a reused name would silently resurrect stale values instead of
    * serving NULLs. Tombstones accumulate. */
  final case class Tombstone(name: String) extends LogAction

  /** A purge lifts a reservation: its rewrite removed the dead bytes from
    * every live file, so the physical name is reusable again. */
  final case class Untombstone(name: String) extends LogAction

  /** Declares the table's bloom column (physical name): later adds MAY
    * record a per-file bloom sidecar ([[Add.bloomed]]). Last wins. */
  final case class BloomOn(col: String) extends LogAction

  /** Opts the table into merge-on-read deletes (an alter commit; the
    * default stays copy-on-write, so tables that never opt in are
    * untouched). */
  case object DvOn extends LogAction

  /** Automatic materialization policy (TBLPROPERTIES 'graft.dv.maxRatio'):
    * when a merge-on-read statement's merged vector would push a file's
    * suppressed/total past the ratio, the committing statement rewrites
    * that file instead of letting reads decay into suppression probes —
    * the Delta deletion-vector rewrite-threshold trade; files below the
    * ratio keep their vectors. Written as a string. Last declaration wins. */
  final case class DvMaxRatio(ratio: Double) extends LogAction

  /** Deletion vector (the Delta deletion-vector / Iceberg position-delete
    * design): the sidecar `<file>.dv-<uuid>` holds the data file's
    * SUPPRESSED row positions (sorted distinct longs, `rows` of them), and
    * every read of that file anti-joins them away. A vector REPLACES the
    * file's previous one — each delete writes a merged sidecar under a NEW
    * name, so time travel serves each version's own vector and the lazy
    * per-file cache never invalidates. Applied AFTER adds and removes: a
    * checkpoint summary re-declares a live file's vector after its add,
    * and a remove clears whatever vector the file carried. Deleting 100
    * rows scattered over a million files is ∝ rows deleted, not ∝ rows
    * kept; `compact` materializes vectors back into clean files. */
  final case class Dv(file: String, sidecar: String, rows: Long) extends LogAction

  /** CHECK constraint (the public Delta table-constraint semantics); the
    * SQL text is written base64-encoded as `expr64`. Enforcement happens
    * at the staging chokepoints, per row inside the write. */
  final case class Constraint(name: String, expr: String) extends LogAction

  /** Drops a CHECK constraint. Applied after every [[Constraint]] of the
    * same file. */
  final case class Unconstraint(name: String) extends LogAction

  /** CDF update classification (Delta `update_preimage` parity): THIS
    * commit's update-preimage positions in `file` (a `.dvu-` sidecar of
    * just the statement's update-suppressed positions — NOT the merged
    * vector, which rides [[Dv]]). Per-commit history, invisible to
    * replay; it shares the vacuum horizon — a reclaimed `.dvu-` sidecar
    * degrades that commit's labels to delete/insert, never its rows. */
  final case class Dvu(file: String, sidecar: String) extends LogAction

  /** CDF update classification: the added `file` holds update POSTimages
    * (matched-update rows), not plain inserts. History only, like [[Dvu]]. */
  final case class CdfPost(file: String) extends LogAction

  // ------------------------------------------------------------------ codec

  private val json = new JsonFactory()
  private val B64 = java.util.Base64.getEncoder
  private val B64Dec = java.util.Base64.getDecoder

  private def b64(s: String): String = B64.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String = new String(B64Dec.decode(s), StandardCharsets.UTF_8)

  private def write(g: JsonGenerator, a: LogAction): Unit = {
    g.writeStartObject()
    a match {
      case Op(op, version) =>
        g.writeStringField("op", op)
        version.foreach(v => g.writeNumberField("version", v))
      case Add(f, zone, rows, bytes, mstats, sstats, bloomed) =>
        g.writeStringField("add", f)
        zone.foreach { z =>
          g.writeNumberField("lo", z.lo)
          g.writeNumberField("hi", z.hi)
          z.col.foreach(g.writeStringField("col", _))
        }
        rows.foreach(n => g.writeNumberField("rows", n))
        bytes.foreach(n => g.writeNumberField("bytes", n))
        if (mstats.nonEmpty) g.writeStringField("mstats", encodeMStats(mstats))
        if (sstats.nonEmpty) g.writeStringField("sstats", encodeSStats(sstats))
        if (bloomed) g.writeNumberField("bloomref", 1)
      case Remove(f) => g.writeStringField("remove", f)
      case Txn(id) => g.writeStringField("txn", id)
      case Schema(j) => g.writeStringField("schema64", b64(j))
      case ClusterBy(spec, buckets) =>
        g.writeStringField("clusterby", spec)
        g.writeNumberField("buckets", buckets)
      case Tombstone(n) => g.writeStringField("tombstone", n)
      case Untombstone(n) => g.writeStringField("untombstone", n)
      case BloomOn(c) => g.writeStringField("bloomon", c)
      case DvOn => g.writeNumberField("dvon", 1)
      case DvMaxRatio(r) => g.writeStringField("dvmaxratio", r.toString)
      case Dv(f, sc, n) =>
        g.writeStringField("dv", f)
        g.writeStringField("dvfile", sc)
        g.writeNumberField("dvrows", n)
      case Constraint(n, e) =>
        g.writeStringField("constraint", n)
        g.writeStringField("expr64", b64(e))
      case Unconstraint(n) => g.writeStringField("unconstraint", n)
      case Dvu(f, sc) =>
        g.writeStringField("dvu", f)
        g.writeStringField("dvufile", sc)
      case CdfPost(f) => g.writeStringField("cdfpost", f)
    }
    g.writeEndObject()
  }

  /** A whole log file: one action per line, each newline-terminated, UTF-8. */
  def encodeFile(actions: Seq[LogAction]): Array[Byte] = {
    val out = new ByteArrayOutputStream(64 * (actions.size + 1))
    val g = json.createGenerator(out)
    g.setRootValueSeparator(new SerializedString("\n"))
    actions.foreach(write(g, _))
    g.close()
    if (actions.nonEmpty) out.write('\n')
    out.toByteArray
  }

  /** One action as its log line (no trailing newline). */
  def encode(a: LogAction): String =
    new String(encodeFile(Seq(a)), StandardCharsets.UTF_8).stripSuffix("\n")

  /** One log line as its action. Unknown keys are ignored; a line that is
    * not one JSON object, or carries no known action, throws. */
  def decode(line: String): LogAction = parse(json.createParser(line))

  /** Every action of one log file, in line order; blank lines are skipped.
    * Commits land atomically, so an undecodable line is corruption: it
    * throws, naming `source` and the 1-based line number. */
  def decodeFile(bytes: Array[Byte], source: String): Vector[LogAction] =
    new String(bytes, StandardCharsets.UTF_8).split('\n').iterator.zipWithIndex
      .filterNot(_._1.isBlank).map { case (line, i) =>
        try decode(line)
        catch {
          case e: IllegalArgumentException => throw new IllegalStateException(
            s"corrupt commit-log line ${i + 1} of $source: ${e.getMessage}", e)
        }
      }.toVector

  private def parse(p: JsonParser): LogAction =
    try read(p)
    catch { case e: JacksonException => throw new IllegalArgumentException(e.getOriginalMessage, e) }
    finally p.close()

  private def read(p: JsonParser): LogAction = {
    def bad(msg: String) = new IllegalArgumentException(msg)
    if (p.nextToken() != JsonToken.START_OBJECT) throw bad("not a JSON object")
    val s = new java.util.HashMap[String, String](8)
    val n = new java.util.HashMap[String, java.lang.Long](8)
    var t = p.nextToken()
    while (t == JsonToken.FIELD_NAME) {
      val k = p.currentName()
      p.nextToken() match {
        case JsonToken.VALUE_STRING     => s.put(k, p.getText)
        case JsonToken.VALUE_NUMBER_INT => n.put(k, p.getLongValue)
        case _                          => p.skipChildren()
      }
      t = p.nextToken()
    }
    if (t != JsonToken.END_OBJECT) throw bad(s"unexpected $t")
    if (p.nextToken() != null) throw bad("trailing content after the action")

    def str(k: String): Option[String] = Option(s.get(k))
    def num(k: String): Option[Long] = Option(n.get(k)).map(_.longValue)
    def need[A](v: Option[A], k: String): A = v.getOrElse(throw bad(s"missing \"$k\""))
    if (s.containsKey("add"))
      Add(s.get("add"),
        zone = for (lo <- num("lo"); hi <- num("hi")) yield Zone(lo, hi, str("col")),
        rows = num("rows"),
        bytes = num("bytes"),
        mstats = decodeMStats(s.getOrDefault("mstats", "")),
        sstats = decodeSStats(s.getOrDefault("sstats", "")),
        bloomed = num("bloomref").contains(1L))
    else if (s.containsKey("remove")) Remove(s.get("remove"))
    else if (s.containsKey("dv"))
      Dv(s.get("dv"), need(str("dvfile"), "dvfile"), need(num("dvrows"), "dvrows"))
    else if (s.containsKey("txn")) Txn(s.get("txn"))
    else if (s.containsKey("op")) Op(s.get("op"), num("version"))
    else if (s.containsKey("schema64")) Schema(unb64(s.get("schema64")))
    else if (s.containsKey("clusterby"))
      ClusterBy(s.get("clusterby"), need(num("buckets"), "buckets").toInt)
    else if (s.containsKey("tombstone")) Tombstone(s.get("tombstone"))
    else if (s.containsKey("untombstone")) Untombstone(s.get("untombstone"))
    else if (s.containsKey("bloomon")) BloomOn(s.get("bloomon"))
    else if (num("dvon").contains(1L)) DvOn
    else if (s.containsKey("dvmaxratio"))
      DvMaxRatio(s.get("dvmaxratio").toDoubleOption
        .getOrElse(throw bad(s"dvmaxratio '${s.get("dvmaxratio")}' is not a number")))
    else if (s.containsKey("constraint"))
      Constraint(s.get("constraint"), unb64(need(str("expr64"), "expr64")))
    else if (s.containsKey("unconstraint")) Unconstraint(s.get("unconstraint"))
    else if (s.containsKey("dvu")) Dvu(s.get("dvu"), need(str("dvufile"), "dvufile"))
    else if (s.containsKey("cdfpost")) CdfPost(s.get("cdfpost"))
    else throw bad("no known action")
  }

  // ------------------------------------------------------------------ compact stats

  /** `"a=1:9,d=d19000:19400,p=c2.100:999"` — names sorted for
    * deterministic log lines. Only `[A-Za-z0-9_]+` names are ever encoded
    * (the footer harvest filters), so the separators cannot collide with
    * content; a typed range leads with its kind tag (the bare form stays
    * the plain-int encoding every older log already carries). */
  private def encodeMStats(m: Map[String, ColStat]): String =
    m.toSeq.sortBy(_._1).map {
      case (c, ColStat('i', lo, hi, _)) => s"$c=$lo:$hi"
      case (c, ColStat('c', lo, hi, sc)) => s"$c=c$sc.$lo:$hi"
      case (c, ColStat(k, lo, hi, _)) => s"$c=$k$lo:$hi"
    }.mkString(",")

  private def decodeMStats(s: String): Map[String, ColStat] =
    if (s.isEmpty) Map.empty
    else s.split(',').toSeq.flatMap { part =>
      part.split('=') match {
        case Array(c, r) =>
          val parsed: Option[(Char, Int, String)] = r.headOption match {
            case Some('d') | Some('t') => Some((r.head, 0, r.tail))
            case Some('c') =>
              val dot = r.indexOf('.')
              if (dot < 2) None // malformed typed range: drop the column
              else r.substring(1, dot).toIntOption
                .map(sc => ('c', sc, r.substring(dot + 1)))
            case _ => Some(('i', 0, r))
          }
          parsed.flatMap { case (kind, scale, body) =>
            body.split(':') match {
              case Array(lo, hi) =>
                for (l <- lo.toLongOption; h <- hi.toLongOption)
                  yield c -> ColStat(kind, l, h, scale)
              case _ => None
            }
          }
        case _ => None
      }
    }.toMap

  // string bounds ride URL-safe unpadded base64 — no '=', ',' or ':' in
  // the alphabet, so the separators cannot collide with content
  private val B64E = java.util.Base64.getUrlEncoder.withoutPadding
  private val B64D = java.util.Base64.getUrlDecoder

  private def encodeSStats(m: Map[String, (ArraySeq[Byte], ArraySeq[Byte])]): String =
    m.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
      s"$c=${B64E.encodeToString(lo.toArray)}:${B64E.encodeToString(hi.toArray)}"
    }.mkString(",")

  // split(':', -1) keeps an EMPTY bound (the empty string is a column's
  // legitimate min), which a plain split would drop with the column
  private def decodeSStats(s: String): Map[String, (ArraySeq[Byte], ArraySeq[Byte])] =
    if (s.isEmpty) Map.empty
    else s.split(',').toSeq.flatMap { part =>
      part.split('=') match {
        case Array(c, r) => r.split(":", -1) match {
          case Array(lo, hi) =>
            try Some(c -> (ArraySeq.unsafeWrapArray(B64D.decode(lo)),
              ArraySeq.unsafeWrapArray(B64D.decode(hi))))
            catch { case _: IllegalArgumentException => None }
          case _ => None
        }
        case _ => None
      }
    }.toMap
}
