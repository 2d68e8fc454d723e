package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Graph, HnswExport}

/** Round-trip of the hnswlib `saveIndex` serialization: export the
  * Spark-built hierarchy, re-parse it with the independent reader, and
  * check the artifact against first principles — header arithmetic,
  * internal-id assignment, level rule, edge sets, degree caps, vector
  * bit-equality, and the exact byte count the layout formula predicts.
  */
class HnswExportSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  /** The suite's index files, deleted after its last test. */
  private var dir: String = _
  override def run(testName: Option[String], args: Args): Status =
    TempDirs.withTempDir("hnsw_export") { d => dir = d; super.run(testName, args) }

  private val n = 200
  private val dim = 2
  private val m = 3
  private val maxLevel = 3

  /** The smooth-manifold fixture GraphSpec navigates: 200 points on a
    * slow 2-D circle.
    */
  private lazy val space = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = (0 until n).map { i =>
      val a = 2 * math.Pi * i / n
      Row(i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  private def levelOf(label: Long): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hnsw:$label".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h0 = java.lang.Long.parseLong(h.take(15), 16)
    if (h0 % 64 == 0) 3 else if (h0 % 16 == 0) 2 else if (h0 % 4 == 0) 1 else 0
  }

  private lazy val path = {
    val p = s"$dir/circle.hnsw"
    HnswExport.exportIndex(space, "vec_id", "embedding", m, maxLevel, 100, p)
    p
  }
  private lazy val parsed = HnswExport.readIndex(path)

  test("header fields carry hnswlib's exact layout arithmetic") {
    val h = parsed.header
    assert(h.offsetLevel0 == 0L)
    assert(h.maxElements == n && h.curElementCount == n)
    val sizeLinksLevel0 = 2 * m * 4 + 4 // maxM0 slots + count slot
    assert(h.offsetData == sizeLinksLevel0)
    assert(h.labelOffset == sizeLinksLevel0 + dim * 4)
    assert(h.sizeDataPerElement == sizeLinksLevel0 + dim * 4 + 8)
    assert(h.m == m && h.maxM == m && h.maxM0 == 2 * m)
    assert(h.mult == 1.0 / math.log(m.toDouble))
    assert(h.efConstruction == 100)
    assert(parsed.dim == dim)
  }

  test("internal ids are dense in label order; labels and levels round-trip") {
    assert(parsed.nElements == n)
    assert(parsed.labels.toSeq == (0L until n.toLong))
    (0 until n).foreach { i =>
      assert(parsed.levels(i) == levelOf(i.toLong), s"level mismatch at $i")
    }
    val expMax = (0 until n).map(i => levelOf(i.toLong)).max
    assert(parsed.header.maxLevel == expMax)
    // entry = smallest label among max-level nodes (labels are dense,
    // so internal id == label here)
    val expEntry = (0 until n).find(i => levelOf(i.toLong) == expMax).get
    assert(parsed.header.enterPoint == expEntry)
  }

  test("vector bytes are bit-equal to the source floats") {
    val src = space.orderBy(col("vec_id")).collect()
      .map(r => r.getSeq[Float](1).toArray)
    (0 until n).foreach { i =>
      assert(parsed.vectors(i).length == dim)
      (0 until dim).foreach { j =>
        assert(
          java.lang.Float.floatToRawIntBits(parsed.vectors(i)(j)) ==
            java.lang.Float.floatToRawIntBits(src(i)(j)),
          s"vector bits differ at element $i dim $j")
      }
    }
  }

  test("per-level link lists equal the hnswBuild edge set; caps and membership hold") {
    val built = Graph.hnswBuild(space, "vec_id", "embedding", k = m, maxLevel = maxLevel)
      .collect()
      .map(r => (r.getAs[Long]("level"), r.getAs[Long]("src"), r.getAs[Long]("dst")))
      .toSet
    val fromFile = (for {
      i <- 0 until n
      l <- 0 to parsed.levels(i)
      t <- parsed.links(i)(l)
    } yield (l.toLong, parsed.labels(i), parsed.labels(t))).toSet
    assert(fromFile == built, "serialized edges must be exactly the hnswBuild edges")
    (0 until n).foreach { i =>
      assert(parsed.links(i)(0).length <= 2 * m)
      (1 to parsed.levels(i)).foreach { l =>
        assert(parsed.links(i)(l).length <= m)
        // level membership: a level-l link targets a node of level >= l
        parsed.links(i)(l).foreach { t =>
          assert(parsed.levels(t) >= l, s"level-$l link $i->$t targets level ${parsed.levels(t)}")
        }
      }
    }
  }

  test("file byte count matches the layout formula, and export is deterministic") {
    val actual = Files.size(Paths.get(path))
    val sizeDataPerElement = (2 * m * 4 + 4) + dim * 4 + 8
    val upper = (0 until n).map(i => 4 + levelOf(i.toLong) * (m * 4 + 4)).sum
    assert(actual == HnswExport.HeaderBytes + n.toLong * sizeDataPerElement + upper)
    val p2 = s"$dir/circle2.hnsw"
    val s2 = HnswExport.exportIndex(space, "vec_id", "embedding", m, maxLevel, 100, p2)
    assert(s2.fileBytes == actual)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(path)), Files.readAllBytes(Paths.get(p2))),
      "two exports of the same space must be byte-identical")
  }

  test("summary agrees with the parsed artifact") {
    val s = HnswExport.exportIndex(
      space, "vec_id", "embedding", m, maxLevel, 100,
      s"$dir/c.hnsw")
    assert(s.nElements == n && s.dim == dim)
    assert(s.entryLabel == parsed.labels(parsed.header.enterPoint))
    assert(s.maxLevelUsed == parsed.header.maxLevel)
    (0 to maxLevel).foreach { l =>
      assert(s.edgesPerLevel.getOrElse(l, 0L) == parsed.edgesAtLevel(l), s"level $l")
    }
  }

  test("IVF-fed export at nProbe >= nCells is byte-identical to the brute export") {
    // the deployable-artifact path without the quadratic brute stage:
    // candidates come from Graph.ivfCandidateSource; with the probe
    // exhaustive (nProbe >= the 4 cells) the candidate ranking equals
    // knnBruteForce's, so the WRITTEN FILE must match bit for bit —
    // the same equality discipline emb_hnsw_ivf_build is held to,
    // extended to the serialized artifact
    val cells = space.withColumn("cell", pmod(col("vec_id"), lit(4L)))
    val cents = graft.operators.Similarity.centroids(cells, "cell", "embedding")
    val src = Graph.ivfCandidateSource("vec_id", "embedding", cents, nProbe = 8)
    val p3 = s"$dir/circle_ivf.hnsw"
    val s3 = HnswExport.exportIndex(
      space, "vec_id", "embedding", m, maxLevel, 100, p3, candidates = Some(src))
    assert(s3.fileBytes == Files.size(Paths.get(path)))
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(path)), Files.readAllBytes(Paths.get(p3))),
      "the IVF-probed export must reproduce the brute-candidate artifact byte for byte " +
        "when the probe is exhaustive")
  }

  test("reader fails loudly on a truncated file") {
    val bytes = Files.readAllBytes(Paths.get(path))
    val cut = Paths.get(dir, "cut.hnsw")
    Files.write(cut, java.util.Arrays.copyOf(bytes, bytes.length - 3))
    intercept[Exception] { HnswExport.readIndex(cut.toString) }
  }
}
