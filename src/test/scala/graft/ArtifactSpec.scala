package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}
import graft.sources.AtomicCommit

/** [[AtomicCommit.Artifact]] owns every durable derived artifact's
  * lifecycle: its path follows the dataset and the current tmpdir,
  * reset + ensure republishes a committed tree that a second ensure
  * reuses, readers see only the manifest's files, and no operator
  * publishes around it. */
class ArtifactSpec extends AnyFunSuite {
  import SparkTestSession.{sf, spark}

  private def fs = new Path(sf).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  test("every artifact's path carries the dataset key and version " +
    "tag and follows java.io.tmpdir") {
    val arts = Similarity.Artifacts
    assert(arts.size == 15)
    assert(arts.map(_.path(sf)).distinct.size == arts.size,
      "two artifacts share a path")
    arts.foreach { a =>
      val v = if (a eq Similarity.PcaModel) Similarity.PcaArtifactV
        else Similarity.AnnIndexV
      val p = a.path(sf)
      assert(p.endsWith(s"_${AtomicCommit.dirKey(sf)}"), p)
      assert(a.name.contains(s"_v${v}_"), s"${a.name} lacks v$v")
    }
    val old = sys.props("java.io.tmpdir")
    val moved = java.nio.file.Files.createTempDirectory("artmoved")
      .toString
    try {
      sys.props("java.io.tmpdir") = moved
      arts.foreach(a => assert(a.path(sf).startsWith(s"$moved/"),
        s"${a.name} cached its tmpdir"))
    } finally {
      sys.props("java.io.tmpdir") = old
      new java.io.File(moved).delete()
    }
    assert(arts.forall(_.path(sf).startsWith(s"$old/")))
  }

  test("reset then ensure publishes a committed tree that a second " +
    "ensure reuses untouched") {
    Seq(Similarity.Tombstones, Dedup.FingerprintIndex).foreach { a =>
      a.reset(spark, sf)
      assert(!fs.exists(new Path(a.path(sf))), s"${a.name} not reset")
      val root = a.ensure(spark, sf)
      assert(root == a.path(sf))
      val fp = AtomicCommit.tableFingerprint(spark, sf, a.source)
      assert(AtomicCommit.isCommittedFor(spark, root, fp),
        s"${a.name} not committed for its source")
      val marker = new Path(root, AtomicCommit.MarkerName)
      val mtime = fs.getFileStatus(marker).getModificationTime
      a.ensure(spark, sf)
      assert(fs.getFileStatus(marker).getModificationTime == mtime,
        s"${a.name} was republished by a second ensure")
    }
  }

  test("an orphan file in the committed tombstone log deletes nothing") {
    import spark.implicits._
    val expected = Similarity.d98TombstoneDelete(spark, sf).collect().toSeq
    // a served id is live by construction: planting it as a tombstone
    // changes the serve iff the reader lists the directory
    val live = expected.head.getAs[Long]("vec_id")
    val scratch = java.nio.file.Files.createTempDirectory("orphan")
      .toString
    val orphan = new Path(
      new Path(Similarity.Tombstones.ensure(spark, sf), "ids"),
      "part-99999-orphan.snappy.parquet")
    try {
      Seq(live).toDF("vec_id").coalesce(1).write.mode("overwrite")
        .parquet(s"$scratch/ids")
      val part = fs.listStatus(new Path(s"$scratch/ids")).map(_.getPath)
        .find(_.getName.startsWith("part-")).get
      assert(fs.rename(part, orphan))
      assert(Similarity.tombstoneFilteredSearch(spark, sf).collect().toSeq
        == expected, s"orphan tombstone $live reached the anti-join")
    } finally {
      fs.delete(orphan, false)
      fs.delete(new Path(scratch), true)
    }
  }

  test("no operator publishes a derived artifact around Artifact") {
    val allowed = Set("AtomicCommit.scala", "Interchange.scala")
    val offenders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") &&
        !allowed(p.getFileName.toString))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p),
        "UTF-8").contains("publishCommitted("))
    assert(offenders.isEmpty,
      s"publishCommitted( outside AtomicCommit/Interchange (declare " +
        s"an AtomicCommit.Artifact): ${offenders.mkString(", ")}")
  }
}
