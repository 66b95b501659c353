package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import graft.functions.Bytes.{be32, le32, leDouble}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** ESRI shapefile (`.shp`) record parser — the one reference ingest step
  * that had no engine analog: `aggregates_python_helpers.py:743`
  * (`load_shapefile_to_bigquery`) reads `powiaty.shp` via geopandas and
  * ships WKT text to the warehouse. The `.shp` container is a fixed-format
  * public binary layout (ESRI Shapefile Technical Description, 1998): a
  * 100-byte header (file code 9994 big-endian, version 1000
  * little-endian), then records of [record number BE, content length BE in
  * 16-bit words] followed by a little-endian shape body — for Polygon
  * (type 5): bbox ×4 doubles, numParts, numPoints, part start offsets,
  * then (x, y) double pairs with each ring closed by repeating its first
  * point. Same kernel class as the q83/q95 media parsers: assemble real
  * container bytes from fixture arithmetic, then genuinely invert them —
  * the oracle only knows the vertex arithmetic, so a green q96 proves the
  * binary walk (endianness mix, word-unit lengths, ring de-closing) is
  * right.
  *
  * Consumed via Catalyst `StaticInvoke` (graft.functions.F.shpRecords) —
  * whole-stage codegen, no UDF. Corrupt, truncated, or
  * internally-inconsistent bytes (bad file code, record overruns, part
  * offsets out of order, a record bbox that disagrees with its own
  * points) return null, never throw: a poison file degrades to a NULL
  * row at 100 TB, not a dead stage.
  *
  * Scale shape: one `.shp` file is one task's worth of work
  * ([[GraftShp.read]] — a `binaryFile` scan, records explode inside the
  * task), matching how the reference treats the dim: a single ~380-row
  * polygon layer loaded once. Parallelism across FILES, not within one —
  * the right unit for a dim load.
  */
/** File-level `.shp` ingest: a `binaryFile` scan (one task per file — a
  * shapefile is not splittable: record framing has no sync markers) whose
  * content column parses through the [[ShpCodec.rings]] kernel and explodes
  * to one row per polygon ring. The dim-load analog of
  * [[GraftCsv.readZip]]'s archive-per-task contract.
  */
object GraftShp {

  /** (path, recno, part, vertices:array<struct<x:long,y:long>>) for every
    * polygon ring under `path` (glob ok). Coordinates land as longs —
    * graft geometry is integer-CRS throughout (GeometryDim scaladoc);
    * shift/scale fractional CRS units upstream.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val recs = spark.read.format("binaryFile").load(path)
      .select(col("path"),
        explode(graft.functions.F.shpRecords(col("content"))).as("r"))
    recs.select(col("path"), col("r.recno").as("recno"),
      col("r.part").as("part"),
      transform(col("r.ring"), p => struct(
        element_at(p, 1).cast("long").as("x"),
        element_at(p, 2).cast("long").as("y"))).as("vertices"))
  }
}

object ShpCodec {

  /** array<struct<recno:int, part:int, ring:array<array<double>>>> —
    * [[rings]]' Catalyst shape; each ring element is [x, y], closing
    * duplicate dropped (WKT re-closes it).
    */
  private val NullShape = 0
  private val PolygonShape = 5

  // ---- fixture encoder -----------------------------------------------------

  private val dirs =
    Array((1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1))

  /** The q60/q85 star-polygon ring for one nation, OPEN (8 vertices) —
    * the single source of truth the oracle mirrors
    * (registry.EtlQueries.polygonFixture arithmetic).
    */
  private def fixtureRing(polyId: Long): Array[(Double, Double)] =
    dirs.zipWithIndex.map { case ((dx, dy), k) =>
      val r = 50 + (polyId * 7 + k * 13) % 30
      ((polyId * 1000 + r * dx).toDouble, (polyId * 500 + r * dy).toDouble)
    }

  /** A complete single-record `.shp` file for one fixture polygon (record
    * number `polyId + 1`). Integer-valued coordinates are exact in IEEE
    * doubles, so the decode → cast-to-long → WKT path is bit-stable.
    */
  def makeShp(polyId: Long): Array[Byte] =
    makeShpFile(Array(polyId))

  /** A multi-record `.shp` file over several fixture polygons — the
    * ShpSpec file-ingest fixture ([[GraftShp.read]]); record i carries
    * ids(i) with record number i + 1.
    */
  def makeShpFile(ids: Array[Long]): Array[Byte] = {
    val ringLens = ids.map(_ => 8)
    // per record: 8 hdr + content (4 type + 32 bbox + 8 counts + 4 parts
    // + 16 * (n + 1) closed points)
    val contentLens = ringLens.map(n => 48 + 16 * (n + 1))
    val fileLen = 100 + contentLens.map(_ + 8).sum
    val out = new Array[Byte](fileLen)
    val bb = ByteBuffer.wrap(out) // big-endian by default
    bb.putInt(9994)               // file code
    bb.position(24)
    bb.putInt(fileLen / 2)        // file length in 16-bit words
    bb.order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1000)               // version
    bb.putInt(PolygonShape)
    val allRings = ids.map(fixtureRing)
    val gxs = allRings.flatten.map(_._1); val gys = allRings.flatten.map(_._2)
    bb.putDouble(gxs.min).putDouble(gys.min).putDouble(gxs.max).putDouble(gys.max)
    bb.position(100) // Z/M ranges stay zero
    ids.indices.foreach { i =>
      val ring = allRings(i)
      bb.order(ByteOrder.BIG_ENDIAN)
      bb.putInt(i + 1)                 // record number, 1-based
      bb.putInt(contentLens(i) / 2)    // content length in words
      bb.order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(PolygonShape)
      val xs = ring.map(_._1); val ys = ring.map(_._2)
      bb.putDouble(xs.min).putDouble(ys.min).putDouble(xs.max).putDouble(ys.max)
      bb.putInt(1)                     // numParts
      bb.putInt(ring.length + 1)       // numPoints, ring stored closed
      bb.putInt(0)                     // part 0 start offset
      (ring :+ ring.head).foreach { case (x, y) =>
        bb.putDouble(x).putDouble(y)
      }
    }
    out
  }

  // ---- decoder -------------------------------------------------------------

  /** All polygon rings of a `.shp` file as Catalyst
    * array<struct<recno, part, ring:array<array<double>>>>, or null on any
    * malformation. Null-shape records (type 0 — the spec's deleted-row
    * placeholder) are skipped; each ring's closing duplicate point is
    * dropped; a record whose stored bbox disagrees with its own points is
    * rejected (internal inconsistency = corruption).
    */
  def rings(b: Array[Byte]): ArrayData = {
    val rs = ringsRaw(b)
    if (rs == null) null
    else new GenericArrayData(rs.map { case (recno, part, ring) =>
      new GenericInternalRow(Array[Any](recno, part,
        new GenericArrayData(ring.map(p =>
          new GenericArrayData(Array[Any](p._1, p._2)): Any))))
    })
  }

  /** JVM-native form of [[rings]] for direct (non-Catalyst) callers. */
  def ringsRaw(b: Array[Byte]): Array[(Int, Int, Array[(Double, Double)])] =
    try {
      if (b == null || b.length < 100) return null
      if (be32(b, 0) != 9994 || le32(b, 28) != 1000) return null
      val fileWords = be32(b, 24).toInt
      if (fileWords.toLong * 2 > b.length) return null
      val end = fileWords * 2
      val out = Array.newBuilder[(Int, Int, Array[(Double, Double)])]
      var pos = 100
      while (pos < end) {
        if (pos + 8 > end) return null
        val recno = be32(b, pos).toInt
        val clen = be32(b, pos + 4) * 2
        val cpos = pos + 8
        if (recno <= 0 || clen < 4 || cpos + clen > end) return null
        le32(b, cpos).toInt match {
          case NullShape => () // deleted-record placeholder
          case PolygonShape =>
            if (clen < 48) return null
            val nParts = le32(b, cpos + 36).toInt
            val nPoints = le32(b, cpos + 40).toInt
            if (nParts <= 0 || nPoints <= 0 || nParts > nPoints ||
              clen != 44L + 4L * nParts + 16L * nPoints) return null
            val partsOff = cpos + 44
            val ptsOff = partsOff + 4 * nParts
            val starts =
              Array.tabulate(nParts)(i => le32(b, partsOff + 4 * i).toInt)
            var p = 0
            var bxmin = Double.MaxValue; var bymin = Double.MaxValue
            var bxmax = Double.MinValue; var bymax = Double.MinValue
            while (p < nParts) {
              val s = starts(p)
              val e = if (p + 1 < nParts) starts(p + 1) else nPoints
              if (s < 0 || e <= s || e > nPoints ||
                (p > 0 && s <= starts(p - 1))) return null
              val closed = Array.tabulate(e - s) { i =>
                val o = ptsOff + 16 * (s + i)
                (leDouble(b, o), leDouble(b, o + 8))
              }
              closed.foreach { case (x, y) =>
                if (x < bxmin) bxmin = x; if (x > bxmax) bxmax = x
                if (y < bymin) bymin = y; if (y > bymax) bymax = y
              }
              // the spec mandates explicit ring closure (first point
              // repeated last) — an unclosed ring is malformation, and
              // enforcing it catches damage to the closing point
              if (closed.length < 4 || closed.head != closed.last) return null
              val ring = closed.dropRight(1)
              out += ((recno, p, ring))
              p += 1
            }
            // stored bbox must agree with the points it claims to bound
            if (leDouble(b, cpos + 4) != bxmin || leDouble(b, cpos + 12) != bymin ||
              leDouble(b, cpos + 20) != bxmax || leDouble(b, cpos + 28) != bymax)
              return null
          case _ => return null // point/line/measured variants out of scope
        }
        pos = cpos + clen.toInt
      }
      out.result()
    } catch { case _: Exception => null }
}
