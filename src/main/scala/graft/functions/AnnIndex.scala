package graft.functions

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.DatasetSidecar.{arrayOf, doubleOf, longOf, objOf, stringOf}
import graft.io.JsonValue
import graft.io.JsonValue._

/** A persisted approximate-nearest-neighbor index: one layout for every
  * coarse partitioner × fine code an [[AnnSpec]] names (FAISS's IVF × PQ
  * factorisation; hyperplane LSH is one more partitioner).
  *
  * Layout at `path`: parquet rows `(id, fine code[, bucket])` partitioned
  * by `ann_list`, the row's coarse list (no partition directories for
  * `Flat`), plus [[MetaFile]], which records the spec, the column names,
  * the dimension, the partitioner's vectors (hyperplanes, anchors or
  * centroids) and the PQ codebooks. [[write]] writes the metadata file
  * LAST, so it is also the build's commit marker: a directory without it
  * is refused by [[probe]] and [[append]], never probed half-built.
  *
  * A probe ranks the lists driver-side from the recorded vectors, lists
  * only the probed `ann_list=` directories (planning cost ∝ nprobe, not
  * the index width: full partition discovery was measured 4× slower than
  * a brute-force scan at 500k vectors / 256 lists) and scores each
  * candidate once — float cosine over raw vectors, or ADC over PQ codes,
  * which never reads a float vector. */
object AnnIndex {

  /** What an index is built from: `coarse` splits the rows into lists a
    * probe can skip, `fine` is the per-row code a probe scores. */
  final case class AnnSpec(coarse: AnnSpec.Coarse, fine: AnnSpec.Fine = AnnSpec.Raw)

  object AnnSpec {
    sealed trait Coarse
    /** No partitioner: a probe scores every row. */
    case object Flat extends Coarse
    /** Hyperplane LSH: `planes` sign bits in each of `tables` independent
      * tables; every row is written once per table. */
    final case class Lsh(planes: Int, tables: Int) extends Coarse
    /** Nearest (by cosine) of `nlist` fixed pseudo-random directions: the
      * train-free partitioner. */
    final case class Anchors(nlist: Int) extends Coarse
    /** Nearest of `nlist` k-means centroids, trained with at most `iters`
      * Lloyd iterations. */
    final case class KMeans(nlist: Int, iters: Int = 5) extends Coarse

    sealed trait Fine
    /** The float vector itself, scored by exact cosine. */
    case object Raw extends Fine
    /** Product quantization (Jégou et al. 2011): `m` sub-codes, each the
      * nearest of `k` centroids trained with at most `iters` iterations
      * ([[Similarity.trainPqCodebooks]]), scored by ADC cosine. */
    final case class Pq(m: Int, k: Int, iters: Int = 5) extends Fine
  }
  import AnnSpec._

  private[graft] val MetaFile = "_ann_index.json"
  private val ListCol = "ann_list"
  private val BucketCol = "bucket"
  private val CodesCol = "codes"

  /** An LSH table's rows spread over 2^CoarseBits list directories by the
    * top bucket bits; rows inside are sorted by the full bucket, so the
    * probe's `bucket IN (…)` prunes row groups. One directory per bucket
    * made partition discovery the bottleneck (~770 dirs cost 1.8 s to
    * list per probe). */
  private val CoarseBits = 4

  /** Small row groups on purpose: an index is read in tiny selective
    * slices, so min/max skipping on the sorted bucket column is worth the
    * extra footer metadata. */
  private val RowGroupBytes = 4L * 1024 * 1024

  /** Seeds of the LSH planes (table t uses LshSeed + 1000·t) and of the
    * anchors. */
  private val LshSeed = 42L
  private val AnchorSeed = 7L

  /** A reranked probe rescores its top k × RerankFactor candidates: on the
    * 500k×64d ANN rehearsal corpus, rerank@200 lifted PQ (m=8, k=64)
    * recall@10 from 0.188 to 0.86. */
  private val RerankFactor = 20

  /** A built index as its metadata file records it. `vectors` holds the
    * partitioner's vectors per table: the hyperplanes of each LSH table,
    * or one table of anchors or centroids (none for `Flat`); `books` the
    * PQ codebooks, one per subspace (none for `Raw`). */
  private[graft] final case class Meta(spec: AnnSpec, embCol: String,
                                       idCol: String, dim: Int,
                                       vectors: Seq[Seq[Seq[Double]]],
                                       books: Seq[Seq[Seq[Double]]])

  /** Build an index of `df`'s (`idCol`, `embCol`) rows at `path`,
    * replacing whatever is there. */
  def write(df: DataFrame, embCol: String, idCol: String, path: String,
            spec: AnnSpec): Unit = {
    val first = df.select(size(col(embCol))).head(1)
    require(first.nonEmpty, s"AnnIndex.write: no vectors to index at $path")
    val dim = first.head.getInt(0)
    def table(vs: Seq[Seq[Float]]): Seq[Seq[Double]] = vs.map(_.map(_.toDouble))
    val vectors = spec.coarse match {
      case Flat => Nil
      case Lsh(planes, tables) =>
        (0 until tables).map(t => table(hyperplanes(planes, dim, LshSeed + t * 1000L)))
      case Anchors(nlist) => Seq(table(anchors(nlist, dim)))
      case KMeans(nlist, iters) =>
        Seq(Similarity.kmeans(df, embCol, idCol, nlist, dim, iters,
          trackInertia = false)._2.toSeq.map(_.toSeq))
    }
    val books = spec.fine match {
      case Raw => Nil
      case Pq(m, k, iters) =>
        Similarity.trainPqCodebooks(df, embCol, idCol, dim, m, k, iters)
          .toSeq.map(_.toSeq.map(_.toSeq))
    }
    val meta = Meta(spec, embCol, idCol, dim, vectors, books)
    store(meta, df, path, "overwrite")
    val p = new Path(path, MetaFile)
    val out = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      .create(p, true)
    try out.write(encode(meta).getBytes("UTF-8")) finally out.close()
  }

  /** Add `df`'s rows to the index at `path` under its recorded partitioner
    * and codebooks (no retraining; the resident lists are untouched).
    * `df` carries the column names the index was built with. A trained
    * partitioner's quality decays as the corpus drifts from its training
    * sample: rebuild on schedule, append in between. */
  def append(df: DataFrame, path: String): Unit =
    store(readMeta(df.sparkSession, path, "AnnIndex.append"), df, path, "append")

  /** The `k` nearest rows to `query`, as (id, `cosine`), or (id,
    * `adc_cosine`) for a PQ index. Reads only the `nprobe` lists nearest
    * the query (for LSH: the `nprobe` likeliest buckets of every table;
    * `Flat` reads every row). With `rerankVectors` (the float vectors,
    * under the index's column names) the top k × 20 candidates are
    * rescored by exact cosine against them, and the result is (id,
    * `cosine`). Ties break by id. */
  def probe(spark: SparkSession, path: String, query: Seq[Float], k: Int,
            nprobe: Int, rerankVectors: Option[DataFrame] = None): DataFrame = {
    val m = readMeta(spark, path, "AnnIndex.probe")
    require(query.size == m.dim,
      s"AnnIndex.probe: the query has ${query.size} dimensions, the index at $path ${m.dim}")
    require(k >= 1 && nprobe >= 1,
      s"AnnIndex.probe: k and nprobe must be >= 1, got k=$k nprobe=$nprobe")
    val id = col(m.idCol)
    val (rows, keep) = m.spec.coarse match {
      case Flat => (spark.read.parquet(path), None)
      case Lsh(planes, _) =>
        val shift = math.max(planes - CoarseBits, 0)
        val perTable = floats(m.vectors).zipWithIndex.map { case (ps, t) =>
          val buckets = probeBuckets(ps, query, nprobe)
          (buckets.map(b => (t << CoarseBits) + (b >> shift).toInt).distinct, buckets)
        }
        (readIndexDirs(spark, path, perTable.flatMap(_._1)),
          Some(perTable.map { case (lists, buckets) =>
            col(ListCol).isInCollection(lists) && col(BucketCol).isInCollection(buckets)
          }.reduce(_ || _)))
      case Anchors(_) =>
        (readIndexDirs(spark, path, nearestAnchors(floats(m.vectors).head, query, nprobe)), None)
      case KMeans(_, _) =>
        (readIndexDirs(spark, path, nearestLists(m.vectors.head, query, nprobe)), None)
    }
    val (score, name) = m.spec.fine match {
      case Raw => (Similarity.cosine(col(m.embCol), Similarity.vecLit(query)), "cosine")
      case Pq(_, _, _) => (adcCosine(m.books, query), "adc_cosine")
    }
    val scored = keep.fold(rows)(rows.filter).select(id, score.as(name))
    // an id sits in several LSH tables: project to (id, score) first, so
    // the dedup shuffle carries 16-byte rows, never the vectors
    val once = m.spec.coarse match {
      case Lsh(_, tables) if tables > 1 => scored.groupBy(id).agg(max(col(name)).as(name))
      case _ => scored
    }
    def top(df: DataFrame, n: Int, by: String) =
      df.orderBy(col(by).desc, id.asc).limit(n)
    rerankVectors match {
      case None => top(once, k, name)
      case Some(vectors) =>
        // a few hundred ids, pushed into the vector scan as an IN
        // predicate: the rescore reads only the candidates' row groups
        val ids = top(once, k * RerankFactor, name).select(id).collect().map(_.get(0)).toSeq
        require(ids.nonEmpty, s"AnnIndex.probe: no candidates to rerank in the index at $path")
        top(vectors.filter(id.isin(ids: _*)).select(id,
          Similarity.cosine(col(m.embCol), Similarity.vecLit(query)).as("cosine")), k, "cosine")
    }
  }

  /** `df`'s rows in the index layout, written at `path` with `mode`. */
  private def store(m: Meta, df: DataFrame, path: String, mode: String): Unit = {
    val id = col(m.idCol)
    val emb = col(m.embCol)
    val listed = m.spec.coarse match {
      case Flat => df.select(id, emb)
      case Lsh(planes, _) =>
        val shift = math.max(planes - CoarseBits, 0)
        df.select(id, emb, explode(lshBuckets(emb, floats(m.vectors))).as("__b"))
          .select(id, emb, col("__b.bucket").as(BucketCol),
            (col("__b.tbl") * (1 << CoarseBits) + shiftright(col("__b.bucket"), shift))
              .cast("int").as(ListCol))
      case Anchors(_) => df.select(id, emb, nearestAnchor(emb, floats(m.vectors).head).as(ListCol))
      case KMeans(_, _) =>
        df.select(id, emb, Similarity.nearestCentroid(emb, matrix(m.vectors.head)).as(ListCol))
    }
    val coded = m.spec.fine match {
      case Raw => listed
      case Pq(_, _, _) =>
        val dsub = m.dim / m.books.size
        val codes = array(m.books.indices.map(j => Similarity.nearestCentroid(
          slice(emb, j * dsub + 1, dsub), matrix(m.books(j)))): _*)
        listed.select(listed.columns.toSeq.map(c =>
          if (c == m.embCol) codes.as(CodesCol) else col(c)): _*)
    }
    val laidOut = m.spec.coarse match {
      case Flat => coded
      case Lsh(_, _) => coded.repartition(col(ListCol)).sortWithinPartitions(col(BucketCol))
      case _ => coded.repartition(col(ListCol))
    }
    val w = laidOut.write.mode(mode).option("parquet.block.size", RowGroupBytes)
    (if (m.spec.coarse == Flat) w else w.partitionBy(ListCol)).parquet(path)
  }

  /** Read ONLY the given `ann_list=` directories of the index at `root`;
    * lists with no rows have no directory and are skipped. */
  private def readIndexDirs(spark: SparkSession, root: String,
                            lists: Seq[Int]): DataFrame = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = lists.map(l => new Path(rootPath, s"$ListCol=$l"))
      .filter(fs.exists).map(_.toString)
    if (dirs.isEmpty) spark.read.parquet(root).filter(lit(false))
    else spark.read.option("basePath", root).parquet(dirs: _*)
  }

  private def floats(vs: Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Float]]] =
    vs.map(_.map(_.map(_.toFloat)))

  private def matrix(vs: Seq[Seq[Double]]): Array[Array[Double]] =
    vs.map(_.toArray).toArray

  // ---- partitioners ------------------------------------------------------

  /** Deterministic pseudo-random directions: component j of vector p is a
    * splitmix64 scramble of (seed, p, j) mapped to [-1, 1]. */
  private def hyperplanes(n: Int, dim: Int, seed: Long): Seq[Seq[Float]] =
    (0 until n).map { p =>
      (0 until dim).map { j =>
        var z = seed + p.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        (z.toDouble / Long.MaxValue.toDouble).toFloat
      }
    }

  /** The planes of `tables` LSH tables of `planes` bits over `dim`. */
  private[functions] def lshPlanes(planes: Int, tables: Int, dim: Int): Seq[Seq[Seq[Float]]] =
    (0 until tables).map(t => hyperplanes(planes, dim, LshSeed + t * 1000L))

  /** The LSH partitioner's assign column: per table a (tbl, bucket) struct,
    * the bucket being the sign bits of `emb` against the table's planes
    * packed into a long (random-hyperplane LSH approximates angle). */
  private[functions] def lshBuckets(emb: Column, planes: Seq[Seq[Seq[Float]]]): Column =
    array(planes.zipWithIndex.map { case (ps, t) =>
      struct(lit(t).as("tbl"), ps.zipWithIndex.map { case (plane, i) =>
        when(Similarity.dot(emb, Similarity.vecLit(plane)) >= 0, shiftleft(lit(1L), i))
          .otherwise(lit(0L))
      }.reduce(_ bitwiseOR _).as("bucket"))
    }: _*)

  /** Query-directed multi-probe (Lv et al. 2007): a near neighbor most
    * likely disagrees with the query on the planes the query is closest
    * to, so buckets are ranked by the sum of |margin| of the flipped
    * planes (flip sets of size ≤ 3) and the `nprobe` cheapest are read. */
  private def probeBuckets(planes: Seq[Seq[Float]], query: Seq[Float],
                           nprobe: Int): Seq[Long] = {
    val margins = planes.map(p =>
      p.zip(query).map { case (a, b) => a.toDouble * b.toDouble }.sum)
    val exact = margins.zipWithIndex.foldLeft(0L) { case (acc, (mg, i)) =>
      if (mg >= 0) acc | (1L << i) else acc
    }
    (0 to math.min(3, planes.size)).flatMap(planes.indices.combinations)
      .map(s => (s.map(j => math.abs(margins(j))).sum,
        s.foldLeft(exact)((b, j) => b ^ (1L << j))))
      .sortBy(_._1).take(nprobe).map(_._2)
  }

  /** The anchors of an `nlist`-list anchor partitioner over `dim`. */
  private[functions] def anchors(nlist: Int, dim: Int): Seq[Seq[Float]] =
    hyperplanes(nlist, dim, AnchorSeed)

  /** Index of the anchor with the highest cosine to `emb`. */
  private[functions] def nearestAnchor(emb: Column, anchors: Seq[Seq[Float]]): Column =
    array_max(array(anchors.zipWithIndex.map { case (a, i) =>
      struct(Similarity.cosine(emb, Similarity.vecLit(a)).as("sim"), lit(i).as("list"))
    }: _*)).getField("list")

  /** The ids of the `nprobe` anchors with the highest cosine to `query`. */
  private def nearestAnchors(anchors: Seq[Seq[Float]], query: Seq[Float],
                             nprobe: Int): Seq[Int] = {
    def cos(a: Seq[Float]): Double = {
      var dotV = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.size) {
        dotV += a(i).toDouble * query(i); na += a(i).toDouble * a(i)
        nb += query(i).toDouble * query(i)
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dotV / (math.sqrt(na) * math.sqrt(nb))
    }
    anchors.zipWithIndex.sortBy { case (a, _) => -cos(a) }.take(nprobe).map(_._2)
  }

  /** The ids of the `nprobe` centroids nearest `query` (squared euclidean,
    * ties to the lower id). */
  private def nearestLists(centroids: Seq[Seq[Double]], query: Seq[Float],
                           nprobe: Int): Seq[Int] = {
    def d2(c: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < query.size) {
        val d = query(i) - c(i); s += d * d; i += 1
      }
      s
    }
    centroids.indices.sortBy(i => (d2(centroids(i)), i)).take(nprobe)
  }

  /** Asymmetric-distance cosine over the `codes` column: per subspace, a
    * k-entry table of the query's inner products with the centroids and of
    * the centroids' squared norms, computed driver-side and shipped as
    * literals, so scoring a row is m lookups and adds:
    *   Σ_j <q_j, c_{j,code_j}>  /  (|q| · √(Σ_j |c_{j,code_j}|²))
    * (the reconstruction's exact cosine to q). */
  private def adcCosine(books: Seq[Seq[Seq[Double]]], query: Seq[Float]): Column = {
    val dsub = books.head.head.size
    val q = query.map(_.toDouble).toArray
    val qnorm = math.sqrt(q.map(x => x * x).sum)
    def lut(f: (Int, Seq[Double]) => Double): Column =
      books.zipWithIndex.map { case (book, j) =>
        element_at(array(book.map(c => lit(f(j, c))): _*),
          element_at(col(CodesCol), j + 1) + 1)
      }.reduce(_ + _)
    val ip = lut((j, c) => (0 until dsub).map(t => q(j * dsub + t) * c(t)).sum)
    val n2 = lut((_, c) => c.map(x => x * x).sum)
    val den = lit(qnorm) * sqrt(n2)
    when(den > 0, ip / den).otherwise(lit(0.0))
  }

  // ---- the metadata file -------------------------------------------------

  private def obj(fields: (String, JsonValue)*): JsonObject =
    JsonObject(ListMap(fields: _*))

  private def tensor(xs: Seq[Seq[Seq[Double]]]): JsonValue =
    JsonArray(xs.toVector.map(m => JsonArray(m.toVector.map(v =>
      JsonArray(v.toVector.map(JsonNumber(_)))))))

  /** The metadata document; fixed key order, so the bytes are the format. */
  private[graft] def encode(m: Meta): String = {
    def n(i: Int): JsonValue = JsonNumber(i.toDouble)
    val coarse: Seq[(String, JsonValue)] = m.spec.coarse match {
      case Flat => Seq("kind" -> JsonString("flat"))
      case Lsh(planes, tables) =>
        Seq("kind" -> JsonString("lsh"), "planes" -> n(planes), "tables" -> n(tables))
      case Anchors(nlist) => Seq("kind" -> JsonString("anchors"), "nlist" -> n(nlist))
      case KMeans(nlist, iters) =>
        Seq("kind" -> JsonString("kmeans"), "nlist" -> n(nlist), "iters" -> n(iters))
    }
    val fine: Seq[(String, JsonValue)] = m.spec.fine match {
      case Raw => Seq("kind" -> JsonString("raw"))
      case Pq(sub, k, iters) => Seq("kind" -> JsonString("pq"), "m" -> n(sub),
        "k" -> n(k), "iters" -> n(iters), "codebooks" -> tensor(m.books))
    }
    JsonValue.write(obj("id" -> JsonString(m.idCol),
      "embedding" -> JsonString(m.embCol), "dim" -> n(m.dim),
      "coarse" -> obj(coarse :+ ("vectors" -> tensor(m.vectors)): _*),
      "fine" -> obj(fine: _*)))
  }

  /** Strict on shape: throws on anything [[encode]] cannot have written,
    * including vectors that do not match the recorded spec. */
  private[graft] def decode(txt: String): Meta = {
    val o = objOf(JsonValue.parse(txt))
    val c = objOf(o("coarse"))
    val f = objOf(o("fine"))
    def int(fs: ListMap[String, JsonValue], key: String): Int = longOf(fs(key)).toInt
    def cube(v: JsonValue): Seq[Seq[Seq[Double]]] =
      arrayOf(v).map(arrayOf(_).map(arrayOf(_).map(doubleOf)))
    val coarse = stringOf(c("kind")) match {
      case "flat"    => Flat
      case "lsh"     => Lsh(int(c, "planes"), int(c, "tables"))
      case "anchors" => Anchors(int(c, "nlist"))
      case "kmeans"  => KMeans(int(c, "nlist"), int(c, "iters"))
      case other     => throw new IllegalArgumentException(s"unknown coarse kind '$other'")
    }
    val fine = stringOf(f("kind")) match {
      case "raw" => Raw
      case "pq"  => Pq(int(f, "m"), int(f, "k"), int(f, "iters"))
      case other => throw new IllegalArgumentException(s"unknown fine kind '$other'")
    }
    val meta = Meta(AnnSpec(coarse, fine), stringOf(o("embedding")),
      stringOf(o("id")), int(o, "dim"), cube(c("vectors")),
      if (fine == Raw) Nil else cube(f("codebooks")))
    def shaped(xs: Seq[Seq[Seq[Double]]], tables: Int, rows: Int, width: Int) =
      xs.size == tables && xs.forall(t => t.size == rows && t.forall(_.size == width))
    val (tables, rows) = coarse match {
      case Flat => (0, 0)
      case Lsh(planes, t) => (t, planes)
      case Anchors(nlist) => (1, nlist)
      case KMeans(nlist, _) => (1, nlist)
    }
    require(shaped(meta.vectors, tables, rows, meta.dim),
      s"coarse vectors do not match $coarse over ${meta.dim} dimensions")
    fine match {
      case Pq(sub, k, _) => require(sub > 0 && meta.dim % sub == 0 &&
        shaped(meta.books, sub, k, meta.dim / sub),
        s"codebooks do not match $fine over ${meta.dim} dimensions")
      case Raw =>
    }
    meta
  }

  /** The metadata of the index at `path`, or a refusal naming the path:
    * a missing file means the build never finished. */
  private[graft] def readMeta(spark: SparkSession, path: String, op: String): Meta = {
    val p = new Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) throw new IllegalArgumentException(
      s"$op: $path holds no finished ANN index (no $MetaFile); rebuild it")
    graft.io.DatasetSidecar.read(fs, p, op, "ANN index metadata", "rebuild it")(decode)
  }
}
