package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sinks

/** S3 on-ramp — zipped-ESRI-shapefile reader (and writer, for fixtures and
  * S13-style output parity) in pure JVM code. The reference loads its
  * county geometries from zipped shapefiles (`src/form_calcs.py:40-51`,
  * geopandas `read_file("zip://...")`); a user bringing that on-disk state
  * to this engine needs the same on-ramp.
  *
  * Formats implemented from the public ESRI shapefile technical
  * description and dBase III spec:
  *  - `.shp`: 100-byte header (big-endian file code 9994 + length,
  *    little-endian version/type/bbox), records of [BE recnum, BE content
  *    words] + LE shape payload. Shape types: 1 Point, 3 PolyLine,
  *    5 Polygon (multi-ring, rendered to WKT).
  *  - `.dbf`: version byte, LE record count/header size/record size,
  *    32-byte field descriptors to the 0x0D terminator, fixed-width ASCII
  *    records with a deletion flag.
  *  - `.zip`: java.util.zip over the pair; entries matched by extension.
  *
  * Scale shape: one zip = one layer, parsed whole on an executor; the
  * parallelism is across files (binaryFile scan), the same contract as the
  * VOC/TIFF sources.
  */
object Shapefile {

  final case class ShpRecord(recordNumber: Int, shapeType: Int,
                             minx: Double, miny: Double, maxx: Double, maxy: Double,
                             wkt: String)

  // ------------------------------------------------------------------ .shp parse
  def parseShp(bytes: Array[Byte]): Seq[ShpRecord] = {
    val be = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(be.getInt(0) == 9994, "not a .shp file (bad file code)")
    val fileWords = be.getInt(24)
    val out = Seq.newBuilder[ShpRecord]
    var off = 100
    while (off < fileWords * 2) {
      val recNum = be.getInt(off)
      val contentWords = be.getInt(off + 4)
      val le = ByteBuffer.wrap(bytes, off + 8, contentWords * 2).order(ByteOrder.LITTLE_ENDIAN)
      val shapeType = le.getInt()
      shapeType match {
        case 0 =>
          // null shape: the record EXISTS (its .dbf attributes are real —
          // TIGER layers ship these) but carries no geometry; surfaced as
          // wkt=null so downstream alignment by record number holds
          out += ShpRecord(recNum, 0, Double.NaN, Double.NaN, Double.NaN, Double.NaN, null)
        case 1 =>
          val x = le.getDouble(); val y = le.getDouble()
          out += ShpRecord(recNum, 1, x, y, x, y, s"POINT (${fmt(x)} ${fmt(y)})")
        case 3 | 5 =>
          val minx = le.getDouble(); val miny = le.getDouble()
          val maxx = le.getDouble(); val maxy = le.getDouble()
          val numParts = le.getInt(); val numPoints = le.getInt()
          val parts = (0 until numParts).map(_ => le.getInt())
          val pts = (0 until numPoints).map(_ => (le.getDouble(), le.getDouble()))
          val bounds = parts :+ numPoints
          val rings = (0 until numParts).map { p =>
            pts.slice(bounds(p), bounds(p + 1))
              .map { case (x, y) => s"${fmt(x)} ${fmt(y)}" }.mkString(", ")
          }
          val wkt =
            if (shapeType == 5) rings.map(r => s"($r)").mkString("POLYGON (", ", ", ")")
            else if (numParts == 1) s"LINESTRING (${rings.head})"
            else rings.map(r => s"($r)").mkString("MULTILINESTRING (", ", ", ")")
          out += ShpRecord(recNum, shapeType, minx, miny, maxx, maxy, wkt)
        case other => sys.error(s"unsupported shape type $other")
      }
      off += 8 + contentWords * 2
    }
    out.result()
  }

  private def fmt(d: Double): String =
    if (d == math.rint(d) && !d.isInfinite) d.toLong.toString else d.toString

  // ------------------------------------------------------------------ .dbf parse
  /** Returns (field names, records) — every value as a trimmed string,
    * decoded per the file's language driver byte (see [[parseDbfTyped]]). */
  def parseDbf(bytes: Array[Byte]): (Seq[String], Seq[Seq[String]]) = {
    val (fields, rows) = parseDbfTyped(bytes, None)
    (fields.map(_._1), rows)
  }

  /** Typed, charset-aware .dbf parse: ((name, type, length) per field,
    * trimmed string records). Real-world layers are not ASCII — TIGER
    * county names carry Latin-1 (`Doña Ana`), modern exports declare
    * UTF-8 via a `.cpg` sidecar — so text decodes with, in precedence
    * order: the explicit `charsetOverride` (the zip's .cpg), the header's
    * language driver ID (byte 29: 0x03/0x57 = Windows ANSI), else
    * ISO-8859-1 (byte-transparent, never throws). Field values are
    * fixed-width in BYTES, decoded after slicing, so multi-byte UTF-8
    * values with their shorter pad survive intact. Numeric (N/F), date
    * (D) and logical (L) fields arrive right-justified and are trimmed
    * like everything else. */
  def parseDbfTyped(bytes: Array[Byte], charsetOverride: Option[java.nio.charset.Charset])
      : (Seq[(String, Char, Int)], Seq[Seq[String]]) = {
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val numRecords = le.getInt(4)
    val headerSize = le.getShort(8) & 0xffff
    val recordSize = le.getShort(10) & 0xffff
    val charset = charsetOverride.getOrElse((bytes(29) & 0xff) match {
      case 0x03 | 0x57 => java.nio.charset.Charset.forName("windows-1252")
      case _ => StandardCharsets.ISO_8859_1
    })
    val fields = Seq.newBuilder[(String, Char, Int)]
    var off = 32
    while (bytes(off) != 0x0d) {
      val name = new String(bytes, off, 11, StandardCharsets.US_ASCII)
        .takeWhile(_ != 0).trim
      val typ = (bytes(off + 11) & 0xff).toChar
      val len = bytes(off + 16) & 0xff
      fields += ((name, typ, len))
      off += 32
    }
    val fs = fields.result()
    val rows = (0 until numRecords).map { r =>
      var p = headerSize + r * recordSize + 1   // +1 skips the deletion flag
      fs.map { case (_, _, len) =>
        val v = new String(bytes, p, len, charset).trim
        p += len
        v
      }
    }
    (fs, rows)
  }

  // ------------------------------------------------------------------ zip plumbing
  /** Extracts (lowercased extension -> bytes) for every zip entry. */
  def unzip(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) {
        val buf = new ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        var n = zin.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = zin.read(tmp) }
        val ext = e.getName.reverse.takeWhile(_ != '.').reverse.toLowerCase
        out += (ext -> buf.toByteArray)
      }
      e = zin.getNextEntry
    }
    out.result()
  }

  /** One zipped layer -> rows of (record_number, shape_type, bbox, wkt,
    * attributes map from the .dbf). Attributes align by RECORD NUMBER
    * (1-based, = .dbf row order per the spec), not by position in the
    * parsed sequence — null-shape records keep their attribute rows. A
    * `.cpg` sidecar entry, when present, names the .dbf text encoding
    * (the geopandas behavior); otherwise the .dbf language driver byte
    * decides. */
  def parseZip(bytes: Array[Byte]): Seq[(ShpRecord, Map[String, String])] = {
    val entries = unzip(bytes)
    val shp = entries.getOrElse("shp", sys.error("zip has no .shp entry"))
    val shapes = parseShp(shp)
    val cpg = entries.get("cpg").map(b =>
      java.nio.charset.Charset.forName(new String(b, StandardCharsets.US_ASCII).trim))
    val attrRows: Seq[Map[String, String]] = entries.get("dbf") match {
      case Some(dbf) =>
        val (fields, rows) = parseDbfTyped(dbf, cpg)
        val names = fields.map(_._1)
        rows.map(r => names.zip(r).toMap)
      case None => Seq.empty
    }
    shapes.map { s =>
      val a = if (s.recordNumber >= 1 && s.recordNumber <= attrRows.size)
        attrRows(s.recordNumber - 1)
      else Map.empty[String, String]
      (s, a)
    }
  }

  /** Distributed scan: every `*.zip` under `dir` becomes rows
    * (zip_name, record_number, shape_type, minx..maxy, wkt, attrs). */
  def scanZippedShapefiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Sinks.scanBinaryDir(spark, dir, "*.zip")
      .select(element_at(split(col("path"), "/"), -1).as("zip_name"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        parseZip(bytes).map { case (s, a) =>
          (name, s.recordNumber, s.shapeType, s.minx, s.miny, s.maxx, s.maxy, s.wkt, a)
        }
      }
      .toDF("zip_name", "record_number", "shape_type",
        "minx", "miny", "maxx", "maxy", "wkt", "attrs")
  }

  // ------------------------------------------------------------------ writers (fixtures + S13 parity)
  /** Renders a Polygon-type .shp from axis-aligned rectangles
    * (minx, miny, maxx, maxy) — rings closed, clockwise per spec. */
  def renderRectShp(rects: Seq[(Double, Double, Double, Double)]): Array[Byte] =
    renderMixedShp(rects.map(Some(_)))

  /** Renders a Polygon-type .shp where `None` entries become NULL SHAPE
    * records (type 0, content = the type word only) — the real-world
    * layer shape: record numbers stay sequential, the .dbf still has a
    * row for every record. */
  def renderMixedShp(shapes: Seq[Option[(Double, Double, Double, Double)]]): Array[Byte] = {
    val rects = shapes.flatten
    require(rects.nonEmpty, "at least one non-null shape required for the file bbox")
    // per polygon record, in 16-bit words: shape type (2) + bbox (16) +
    // numParts (2) + numPoints (2) + one part offset (2) + 5 points (40);
    // null records carry the type word only
    val polyWords = 2 + 16 + 2 + 2 + 2 + 5 * 8
    val nullWords = 2
    def words(s: Option[(Double, Double, Double, Double)]): Int =
      if (s.isDefined) polyWords else nullWords
    val fileWords = 50 + shapes.map(s => 4 + words(s)).sum
    val bb = ByteBuffer.allocate(fileWords * 2)
    bb.order(ByteOrder.BIG_ENDIAN)
    bb.putInt(9994); (0 until 5).foreach(_ => bb.putInt(0)); bb.putInt(fileWords)
    bb.order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1000).putInt(5)
    val gminx = rects.map(_._1).min; val gminy = rects.map(_._2).min
    val gmaxx = rects.map(_._3).max; val gmaxy = rects.map(_._4).max
    bb.putDouble(gminx).putDouble(gminy).putDouble(gmaxx).putDouble(gmaxy)
    (0 until 4).foreach(_ => bb.putDouble(0.0))     // z/m ranges unused
    shapes.zipWithIndex.foreach {
      case (Some((minx, miny, maxx, maxy)), i) =>
        bb.order(ByteOrder.BIG_ENDIAN).putInt(i + 1).putInt(polyWords)
        bb.order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(5)
        bb.putDouble(minx).putDouble(miny).putDouble(maxx).putDouble(maxy)
        bb.putInt(1).putInt(5).putInt(0)
        // clockwise closed ring: NW -> NE -> SE -> SW -> NW
        bb.putDouble(minx).putDouble(maxy)
        bb.putDouble(maxx).putDouble(maxy)
        bb.putDouble(maxx).putDouble(miny)
        bb.putDouble(minx).putDouble(miny)
        bb.putDouble(minx).putDouble(maxy)
      case (None, i) =>
        bb.order(ByteOrder.BIG_ENDIAN).putInt(i + 1).putInt(nullWords)
        bb.order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(0)
    }
    bb.array()
  }

  /** Renders a single-text-field dBase III .dbf. */
  def renderDbf(fieldName: String, width: Int, values: Seq[String]): Array[Byte] =
    renderDbfFields(Seq((fieldName, width)), values.map(Seq(_)))

  /** Renders a multi-field dBase III .dbf (all fields character type).
    * Field names longer than 10 characters are TRUNCATED, exactly as the
    * format demands — the reference's downstream report depends on the
    * truncated names `object_cla`/`county_fip`
    * (`distribution_by_county_state.py:29-41`). */
  def renderDbfFields(fields: Seq[(String, Int)],
                      rows: Seq[Seq[String]]): Array[Byte] =
    renderDbfTyped(fields.map { case (n, w) => (n, 'C', w) }, rows,
      StandardCharsets.ISO_8859_1, languageDriver = 0)

  /** Full-control dBase III writer for real-world-shaped fixtures: typed
    * fields (C character left-justified, N/F numeric right-justified, D/L
    * fixed), values encoded with `charset` and padded to the field's BYTE
    * width, and the header's language driver ID byte (offset 29) set —
    * 0x57 marks Windows ANSI, 0 leaves the encoding to sidecars. */
  def renderDbfTyped(fields: Seq[(String, Char, Int)], rows: Seq[Seq[String]],
                     charset: java.nio.charset.Charset, languageDriver: Int): Array[Byte] = {
    val headerSize = 32 + 32 * fields.size + 1
    val recordSize = 1 + fields.map(_._3).sum
    val bb = ByteBuffer.allocate(headerSize + rows.size * recordSize + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(0x03.toByte).put(24.toByte).put(1.toByte).put(1.toByte)
    bb.putInt(rows.size).putShort(headerSize.toShort).putShort(recordSize.toShort)
    (0 until 17).foreach(_ => bb.put(0.toByte))
    bb.put(languageDriver.toByte)                   // byte 29: language driver ID
    (0 until 2).foreach(_ => bb.put(0.toByte))
    fields.foreach { case (name, typ, width) =>
      val nameBytes = name.getBytes(StandardCharsets.US_ASCII).take(10)
      bb.put(nameBytes); (nameBytes.length until 11).foreach(_ => bb.put(0.toByte))
      bb.put(typ.toByte); (0 until 4).foreach(_ => bb.put(0.toByte))
      bb.put(width.toByte).put(0.toByte)
      (0 until 14).foreach(_ => bb.put(0.toByte))
    }
    bb.put(0x0d.toByte)
    rows.foreach { r =>
      bb.put(' '.toByte)                            // not deleted
      fields.zip(r).foreach { case ((_, typ, width), v) =>
        val enc = v.getBytes(charset)
        val padded = new Array[Byte](width)
        java.util.Arrays.fill(padded, ' '.toByte)
        val n = math.min(enc.length, width)
        val at = if (typ == 'N' || typ == 'F') width - n else 0
        System.arraycopy(enc, 0, padded, at, n)
        bb.put(padded)
      }
    }
    bb.put(0x1a.toByte)
    bb.array()
  }

  /** S13 sink — writes a DataFrame of axis-aligned rectangles + string
    * attributes as zipped shapefiles, one zip per partition (the same
    * executor-side one-artifact-per-task contract as the S14 binary sink;
    * on a cluster `outDir` is shared storage). Expects columns
    * `minx, miny, maxx, maxy` (double) followed by the attribute columns;
    * attribute field names are truncated to 10 chars by the .dbf format. */
  def writeZippedLayer(df: org.apache.spark.sql.DataFrame, outDir: String,
                       attrs: Seq[(String, Int)]): Unit = {
    new java.io.File(outDir).mkdirs()
    val cols = Seq("minx", "miny", "maxx", "maxy").map(org.apache.spark.sql.functions.col) ++
      attrs.map { case (c, _) => org.apache.spark.sql.functions.col(c).cast("string") }
    // Catalyst rows, read inside a SQL execution: no Row deserializer class
    // is generated, and the tasks compile the plan's classes under the same
    // session class loader as any other query's
    val qe = df.select(cols: _*).queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreachPartition { it =>
      // the scan reuses its row: copy each row's values out as it passes
      val rows = it.map { r =>
        require(!(0 until 4).exists(r.isNullAt), "writeZippedLayer: a rectangle holds a null coordinate")
        ((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)),
          attrs.indices.map(i => if (r.isNullAt(4 + i)) "" else r.getUTF8String(4 + i).toString))
      }.toVector
      if (rows.nonEmpty) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val rects = rows.map(_._1)
        val vals = rows.map(_._2)
        val zip = renderZip(Seq(
          f"layer_$pid%05d.shp" -> renderRectShp(rects),
          f"layer_$pid%05d.dbf" -> renderDbfFields(attrs, vals)))
        val tmp = java.nio.file.Paths.get(outDir, f".layer_$pid%05d.zip.tmp")
        java.nio.file.Files.write(tmp, zip)
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(outDir, f"layer_$pid%05d.zip"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    })
  }

  /** Zips named byte entries. */
  def renderZip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val zout = new ZipOutputStream(buf)
    entries.foreach { case (name, bytes) =>
      zout.putNextEntry(new ZipEntry(name))
      zout.write(bytes)
      zout.closeEntry()
    }
    zout.close()
    buf.toByteArray
  }
}
