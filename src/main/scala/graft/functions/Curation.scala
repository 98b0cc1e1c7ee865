package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the canonical pipeline a corpus goes
  * through before pre-training, composed from the engine's operators —
  *
  *   normalize → exact dedup → near-dedup (MinHash-LSH + connected
  *   components) → benchmark decontamination → quality filter →
  *   deterministic train/validation/test split
  *
  * Each stage is the scale-shaped operator documented on its own object;
  * this entry point fixes the order (dedup before decontamination so
  * near-duplicate contaminated docs cannot slip through as "clean" copies)
  * and returns per-stage survivor counts for the curation report.
  */
object Curation {

  final case class CurationReport(
      nInput: Long,
      nAfterExact: Long,
      nAfterNearDup: Long,
      nAfterDecontam: Long,
      nAfterQuality: Long,
      splitCounts: Map[String, Long])

  /** Run the full pipeline. The returned DataFrame carries a `split` column
    * ("train" / "validation" / "test"); the report materializes stage
    * counts (one action per stage — curation is a batch job, not a lazy
    * view). Eager, under the [[CacheScope]] rules: the result is cached,
    * every internal barrier (exact survivors, candidate pairs, component
    * labels, loser ids) is freed on return or failure.
    *
    * `checkpointDir`: stable-storage directory (HDFS/object store on a
    * cluster) for RELIABLE checkpoints during the connected-components
    * iteration inside near-dedup. Without it the iteration truncates
    * lineage with `localCheckpoint`, whose blocks live in executor storage
    * — on a real cluster an executor loss mid-run then kills the job
    * (documented Spark semantics). A multi-hour 100 TB curation run should
    * always set this; the per-round checkpoint write is tiny (the label
    * table, two longs per candidate doc). Applied via
    * `sc.setCheckpointDir`, which [[Dedup.connectedComponents]] picks up. */
  def curate(docs: DataFrame, benchmark: DataFrame,
             idCol: String, textCol: String,
             nearDupThreshold: Double = 0.8,
             decontamN: Int = 8,
             minQuality: Double = 0.25,
             trainPct: Int = 90, validationPct: Int = 5,
             checkpointDir: Option[String] = None,
             verbose: Boolean = false): (DataFrame, CurationReport) =
    CacheScope.withFrame { s =>
      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        if (verbose) System.err.println(
          f"[graft] curate/$label%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
        r
      }
      checkpointDir.foreach(docs.sparkSession.sparkContext.setCheckpointDir)
      val nInput = timed("input-count")(docs.count())

      // 1. exact dedup on the NORMALIZED text (casing/punct/ws-insensitive),
      //    deterministic min-id survivor; hash groupBy — content never shuffles.
      //    PERSISTED: every later stage (near-dedup build, three stage counts,
      //    the final write) re-reads these survivors — without the barrier the
      //    lazy chain re-ran scan+normalize+dedup-join per ACTION, ~5× the
      //    work (measured 120 s → ~30 s at sf0.1). MEMORY_AND_DISK spills to
      //    executor-local disk at corpus scale — the managed equivalent of
      //    writing stage intermediates, standard for multi-action batch
      //    pipelines (or pass a checkpointDir and Spark re-reads from there
      //    on executor loss).
      val normalized = docs.withColumn("__norm", Text.normalizeText(col(textCol)))
      val exactSurvivors = s.cache(normalized
        .join(Dedup.exactDedupIds(normalized, "__norm", idCol), Seq(idCol)))
      val nAfterExact = timed("exact-dedup")(exactSurvivors.count())

      // 2. near-duplicate removal (banded LSH → components → min-id
      //    survivor), composed from the operator pieces rather than
      //    dedupNearDuplicates so each barrier is freed as soon as no later
      //    stage reads it.
      val cands = timed("minhash-cands")(
        Dedup.minhashCandidates(exactSurvivors, idCol, textCol))
      val comps = timed("components")(Dedup.connectedComponents(
        cands.filter(col("jaccard_est") >= nearDupThreshold)
          .select(col("idA"), col("idB"))))
      s.free(cands)
      val losers = s.materialize(
        comps.filter(col("id") =!= col("component")).select(col("id").as(idCol)))
      s.free(comps)
      val nearDeduped = exactSurvivors.join(losers, Seq(idCol), "left_anti")
      val nAfterNearDup = timed("near-dedup")(nearDeduped.count())

      // 3. benchmark decontamination (shared n-gram hashes)
      val decontaminated = Decontamination.decontaminate(
        nearDeduped, benchmark, idCol, textCol, n = decontamN)
      val nAfterDecontam = timed("decontaminate")(decontaminated.count())

      // 4. quality floor (codegen'd heuristic score)
      val qualityFiltered = decontaminated
        .filter(Text.qualityScore(col(textCol)) >= minQuality)
      val nAfterQuality = timed("quality")(qualityFiltered.count())

      // 5. deterministic content-hash split
      val withSplit = s.cache(qualityFiltered
        .withColumn("split",
          when(Decontamination.hashBucket(col(idCol)) < trainPct, "train")
            .when(Decontamination.hashBucket(col(idCol)) < trainPct + validationPct,
              "validation")
            .otherwise("test"))
        .drop("__norm"))
      val splitCounts = timed("split-materialize")(withSplit.groupBy("split").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      // the split counts filled the result's cache: free the survivors and
      // loser ids now, not with a recount at scope exit
      s.free(exactSurvivors)
      s.free(losers)

      (withSplit, CurationReport(nInput, nAfterExact, nAfterNearDup,
        nAfterDecontam, nAfterQuality, splitCounts))
    }(_._1)
}
