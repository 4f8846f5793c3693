package graft

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeomOps
import graft.operators.{FeatureMerge, MapPipeline}
import graft.operators.MapPipeline.Feature
import graft.sources.Mapsforge

/** Parity spec for map2db's merge walk: `MapPipeline.build` and
  * `mergeFeatures` must give the schema (nullability included), the rows
  * and the WKB bytes of the merge they replaced, kept here as the
  * reference: a window for each feature's max level and min `minz`, then
  * an aggregate that unions the max-level fragments through the classic
  * overlay in cascaded batches of 16.
  */
class MergeWalkSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._
  import MergeWalkSpec._

  /** Rows ordered by their keys, WKB as byte sequences. */
  private def rows(df: DataFrame, nk: Int): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).sortBy(_.take(nk).map(_.toString).mkString(" "))

  private def assertSame(got: DataFrame, want: DataFrame, nk: Int): Unit = {
    assert(got.schema == want.schema)
    assert(rows(got, nk) == rows(want, nk))
  }

  for (withAreas <- Seq(true, false))
    test(s"walk equals the window + aggregate merge on the crossing map " +
      s"(areas: $withAreas)") {
      val path = MapEncoder.writeToTemp(
        FusedBuildSpec.crossingMap(if (withAreas) 41L else 42L, withAreas))
      val (frags, _) = MapPipeline.fragments(spark, path, dbl = true)
      val geom = col("m2db_geometry")
      val want = reference(frags, Seq("table", "fid"))
        .withColumn("m2db_geometry",
          when(col("table") === 1, FeatureMerge.mergedLine(geom))
            .otherwise(geom))
      val t = MapPipeline.build(spark, path)
      try assertSame(t.merged, want, 2)
      finally t.release()
      // the per-table form, over Dataset[Feature]
      val (pois, ways) = Mapsforge.scan(spark, path)
      for (feats <- Seq(MapPipeline.pointFeatures(pois),
          MapPipeline.lineFeatures(ways), MapPipeline.areaFeatures(ways)))
        assertSame(MapPipeline.mergeFeatures(feats),
          reference(feats.toDF(), Seq("fid")), 1)
    }

  test("walk equals the window + aggregate merge on a 100-segment road, " +
    "a 40-piece area chain and a feature on two levels") {
    def f(fid: Long, level: Int, minz: Int, maxz: Int, g: Geometry) =
      Feature(fid, level, minz, maxz, fid.toInt % 3, s"""["f$fid"]""",
        Map("name" -> s"n$fid"), GeomOps.toWkb(GeomOps.normalized(g)))
    // a zigzag road cut at every vertex, and 1e-3 degree squares
    val vertex = (i: Int) => (7 + i * 1e-4, 51.0 + (i % 2) * 1e-5)
    val road = (0 until 100).reverse.map(i => f(1, 10, 9, 11,
      GeomOps.multiLineString(Seq(Seq(vertex(i), vertex(i + 1))))))
    def square(i: Int, j: Int, s: Int) = {
      val (x0, y0, x1, y1) = ((7000 + i) / 1e3, (51000 + j) / 1e3,
        (7000 + i + s) / 1e3, (51000 + j + s) / 1e3)
      GeomOps.polygon(Seq((x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)))
    }
    val chain = (0 until 40).map(i => f(2, 10, 9, 11, square(i, 0, 1)))
    val levels = Seq(f(3, 10, 9, 11, square(0, 0, 1)),
      f(3, 10, 9, 11, square(1, 0, 1)), f(3, 8, 6, 8, square(0, 0, 2)))
    val feats = (road ++ chain ++ levels).toDS()
    val got = MapPipeline.mergeFeatures(feats)
    assertSame(got, reference(feats.toDF(), Seq("fid")), 1)
    val byFid = got.collect().map(r => r.getLong(0) -> r).toMap
    assert(byFid(3).getInt(1) == 10 && byFid(3).getInt(2) == 6)
    assert(GeomOps.fromWkb(byFid(2).getAs[Array[Byte]]("m2db_geometry"))
      .getGeometryType == "Polygon")
  }
}

object MergeWalkSpec {
  /** The union aggregate the walk replaced: fragments collect as WKB and
    * compact through the classic overlay once 16 are held. */
  case class GeomParts(parts: Seq[Array[Byte]])
  private val UnionBatch = 16

  private def overlay(parts: Seq[Array[Byte]]): Geometry = {
    val coll = new java.util.ArrayList[Geometry]
    parts.foreach(p => coll.add(GeomOps.fromWkb(p)))
    UnaryUnionOp.union(coll)
  }

  class WkbUnionAgg extends Aggregator[Array[Byte], GeomParts, Array[Byte]] {
    private def compact(parts: Seq[Array[Byte]]): Seq[Array[Byte]] =
      if (parts.size < UnionBatch) parts
      else Seq(GeomOps.toWkb(overlay(parts)))
    override def zero: GeomParts = GeomParts(Vector.empty)
    override def reduce(buf: GeomParts, wkb: Array[Byte]): GeomParts =
      GeomParts(compact(buf.parts :+ wkb))
    override def merge(a: GeomParts, b: GeomParts): GeomParts =
      GeomParts(compact(a.parts ++ b.parts))
    override def finish(buf: GeomParts): Array[Byte] = buf.parts match {
      case Seq() => Array.emptyByteArray
      case Seq(one) => GeomOps.toWkb(GeomOps.normalized(GeomOps.fromWkb(one)))
      case many => GeomOps.toWkb(GeomOps.normalized(overlay(many)))
    }
    override def bufferEncoder: Encoder[GeomParts] = Encoders.product[GeomParts]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** The window + aggregate merge over the `keys` columns. */
  def reference(feats: DataFrame, keys: Seq[String]): DataFrame = {
    val k = keys.map(col)
    val w = Window.partitionBy(k: _*)
    feats
      .withColumn("max_level", max(col("level")).over(w))
      .withColumn("minz_all", min(col("minz")).over(w))
      .filter(col("level") === col("max_level"))
      .groupBy(k: _*)
      .agg(
        first(col("max_level")).as("m2db_level"),
        first(col("minz_all")).as("m2db_minz"),
        first(col("maxz")).as("m2db_maxz"),
        first(col("layer")).as("m2db_layer_num"),
        first(col("tags")).as("m2db_tags"),
        first(col("vtags")).as("vtags"),
        udaf(new WkbUnionAgg, Encoders.BINARY)(col("wkb")).as("m2db_geometry"))
  }
}
