package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.AnnIndex
import graft.functions.AnnIndex.{AnnSpec, Meta}

/** The `_ann_index.json` codec (pinned bytes, strict decode, refusals that
  * name the file) and one build/append/probe round per coarse × fine kind
  * a driver query uses, at a `file://` URI and at a bare path. The memo
  * rebuild of a query's index is pinned in QueriesSpec. */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val lshRaw = Meta(AnnSpec(AnnSpec.Lsh(planes = 2, tables = 1)),
    "embedding", "vec_id", 2, Seq(Seq(Seq(0.5, -1.0), Seq(0.25, 0.75))), Nil)
  private val kmeansRaw = Meta(AnnSpec(AnnSpec.KMeans(nlist = 2, iters = 3)),
    "emb", "id", 2, Seq(Seq(Seq(1.5, 0.0), Seq(-2.0, 0.125))), Nil)
  private val kmeansPq = Meta(
    AnnSpec(AnnSpec.KMeans(nlist = 2, iters = 3), AnnSpec.Pq(m = 2, k = 2, iters = 4)),
    "embedding", "vec_id", 2, Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))),
    Seq(Seq(Seq(0.5), Seq(-0.5)), Seq(Seq(2.0), Seq(3.0))))

  test("the metadata file's text is pinned and decodes back for LSH + raw, " +
    "k-means + raw and k-means + PQ") {
    val pinned = Seq(
      lshRaw -> ("""{"id":"vec_id","embedding":"embedding","dim":2,""" +
        """"coarse":{"kind":"lsh","planes":2,"tables":1,"vectors":[[[0.5,-1],[0.25,0.75]]]},""" +
        """"fine":{"kind":"raw"}}"""),
      kmeansRaw -> ("""{"id":"id","embedding":"emb","dim":2,""" +
        """"coarse":{"kind":"kmeans","nlist":2,"iters":3,"vectors":[[[1.5,0],[-2,0.125]]]},""" +
        """"fine":{"kind":"raw"}}"""),
      kmeansPq -> ("""{"id":"vec_id","embedding":"embedding","dim":2,""" +
        """"coarse":{"kind":"kmeans","nlist":2,"iters":3,"vectors":[[[1,0],[0,1]]]},""" +
        """"fine":{"kind":"pq","m":2,"k":2,"iters":4,"codebooks":[[[0.5],[-0.5]],[[2],[3]]]}}"""))
    pinned.foreach { case (meta, text) =>
      assert(AnnIndex.encode(meta) == text)
      assert(AnnIndex.decode(text) == meta)
    }
  }

  test("a truncated, mistyped or missing metadata file is refused with its " +
    "path and a rebuild hint") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ann_codec").resolve("idx")
    AnnIndex.write(Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", dir.toString, AnnSpec(AnnSpec.Flat))
    val file = dir.resolve("_ann_index.json")
    val text = new String(java.nio.file.Files.readAllBytes(file), "UTF-8")
    assert(text.contains("\"dim\":2"))
    def refusal(): String = intercept[IllegalArgumentException](
      AnnIndex.probe(spark, dir.toString, Seq(1f, 0f), k = 1, nprobe = 1)).getMessage
    // rewritten through Hadoop FS, so its checksum stays consistent and
    // only the decode can object
    val meta = new org.apache.hadoop.fs.Path(file.toUri)
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(text.take(text.length / 2), text.replace("\"dim\":2", "\"dim\":\"2\"")).foreach { bad =>
      val out = fs.create(meta, true)
      try out.write(bad.getBytes("UTF-8")) finally out.close()
      val msg = refusal()
      assert(msg.contains(dir.toString) && msg.contains("rebuild it"), msg)
    }
    fs.delete(meta, false)
    val msg = refusal()
    assert(msg.contains(dir.toString) && msg.contains("rebuild it"), msg)
  }

  test("every queried coarse × fine kind builds, appends and probes at a " +
    "file:// URI as at a bare path") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vectors = (0L until 300L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    val emb = vectors.toDF("vec_id", "embedding")
    val query = vectors(123)._2
    val batch = Seq((900000L, query.map(_ + 1e-4f))).toDF("vec_id", "embedding")
    val specs = Seq(
      AnnSpec(AnnSpec.Lsh(planes = 6, tables = 2)),
      AnnSpec(AnnSpec.KMeans(nlist = 4, iters = 3)),
      AnnSpec(AnnSpec.Flat, AnnSpec.Pq(m = 4, k = 8, iters = 3)),
      AnnSpec(AnnSpec.KMeans(nlist = 4, iters = 3), AnnSpec.Pq(m = 4, k = 8, iters = 3)))
    specs.zipWithIndex.foreach { case (spec, i) =>
      def run(path: String) = {
        AnnIndex.write(emb, "embedding", "vec_id", path, spec)
        AnnIndex.append(batch, path)
        (AnnIndex.readMeta(spark, path, "spec"),
          AnnIndex.probe(spark, path, query, k = 5, nprobe = 2).collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      }
      val bare = java.nio.file.Files.createTempDirectory(s"ann_bare$i").resolve("idx")
      val uri = java.nio.file.Files.createTempDirectory(s"ann_uri$i").resolve("idx")
      val (bareMeta, bareTop) = run(bare.toString)
      val (uriMeta, uriTop) = run(uri.toUri.toString)
      assert(uriMeta == bareMeta && uriMeta.spec == spec, spec)
      assert(uriTop == bareTop, spec)
      assert(uriTop.map(_._1).contains(900000L) && uriTop.map(_._1).contains(123L),
        s"$spec: $uriTop")
      assert(java.nio.file.Files.exists(uri.resolve("_ann_index.json")), spec)
    }
  }
}
