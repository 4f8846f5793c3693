package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Spark-facing geometry operators (SURVEY.md §2c): the point union
  * aggregate and per-row WKB decorations. map2db's cross-tile geometry
  * merge (map2db.py:776-784) is not an aggregate here: `MapPipeline`'s
  * merge walk unions each feature's fragments with `GeomOps.unionAll`.
  */
object GeomFunctions {

  case class PointXY(x: Double, y: Double)

  /** Unions the MultiPoint of all (x,y) in the group.
    *
    * The buffer is a flat interleaved coordinate list; the (set-
    * semantics) union happens ONCE at finish via distinct+normalize.
    * The obvious per-row `geom.union(point)` fold is O(n²) in point
    * copying AND pays a WKB parse+serialize per input row — this form
    * is a plain append, which is what lets map-side combine run at
    * scan speed on a 100 TB pass. */
  case class PtBuf(coords: Vector[Double])

  class PointUnionAgg extends Aggregator[PointXY, PtBuf, Array[Byte]] {
    /** Collapse -0.0 to 0.0 so the boxed-equality dedup below agrees
      * with JTS's IEEE == coordinate equality (java.lang.Double
      * treats -0.0 and 0.0 as DISTINCT, which would leave a phantom
      * extra point in groups containing both zero signs). */
    private def canon(v: Double): Double = v + 0.0
    override def zero: PtBuf = PtBuf(Vector.empty)
    override def reduce(buf: PtBuf, p: PointXY): PtBuf =
      PtBuf(buf.coords :+ canon(p.x) :+ canon(p.y))
    override def merge(a: PtBuf, b: PtBuf): PtBuf =
      PtBuf(a.coords ++ b.coords)
    override def finish(buf: PtBuf): Array[Byte] =
      if (buf.coords.isEmpty) Array.emptyByteArray
      else {
        val pts = buf.coords.grouped(2).map(c => (c(0), c(1)))
          .toSeq.distinct
        GeomOps.toWkb(GeomOps.normalized(GeomOps.multiPoint(pts)))
      }
    override def bufferEncoder: Encoder[PtBuf] = Encoders.product[PtBuf]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** `union_points(x, y)` as an untyped aggregate Column. */
  def unionPoints(x: Column, y: Column): Column =
    udaf(new PointUnionAgg, Encoders.product[PointXY]).apply(x, y)

  /** Number of component geometries in a WKB value (post-aggregation
    * decoration; tiny cardinality, evaluated via deserialization). */
  def numGeometries(wkb: Column): Column = {
    val f = org.apache.spark.sql.functions.udf { (b: Array[Byte]) =>
      if (b == null || b.isEmpty) 0 else GeomOps.fromWkb(b).getNumGeometries
    }
    f(wkb)
  }

  def wkt(wkb: Column): Column = {
    val f = org.apache.spark.sql.functions.udf { (b: Array[Byte]) =>
      if (b == null || b.isEmpty) "" else GeomOps.fromWkb(b).toText
    }
    f(wkb)
  }
}
