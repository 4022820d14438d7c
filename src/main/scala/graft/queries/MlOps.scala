package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.cluster.Clustering
import graft.multimodal.Multimodal
import graft.util.SessionArtifacts
import graft.util.SessionArtifacts.Kind

/** ML / clustering / multimodal declared queries. The clustering fits are
  * seeded and not SQL-expressible, so their declared results are the
  * INVARIANTS a correct fit must satisfy (nearest-center per row, k
  * non-empty clusters, monotone finite loss) — each with an oracle entry
  * pinning the invariant, a driver-visible check rather than a row count.
  * Sessionization and the multimodal decoders are fully oracle-checked.
  */
object MlOps {

  type Q = (SparkSession, String) => DataFrame

  /** Build-once embedding feature table (the feature-store shape: vectors
    * are materialized once per dataset and every training/serving query
    * reads the same artifact). The iterative fits stay in each query —
    * only the shared input preparation is amortized, exactly like the
    * dedup chain's signature index.
    */
  private def embFeatures(s: SparkSession, d: String): DataFrame =
    PipelineOps.memoized(s, d, "emb_features") {
      // partition count derived from the data (like docVectors below):
      // each Lloyd iteration is one job over these rows, so at small row
      // counts per-task scheduling dominates (floor of 8), while at real
      // scale rows/50k partitions keep the iteration jobs parallel
      // instead of serializing on a hardcoded handful
      // count the row-preserving SOURCE, not the feature pipeline — the
      // latter would materialize the whole prep twice (once for the
      // count, again for the checkpoint)
      val nParts = math.max(8,
        (Tables.embeddings(s, d).count() / 50000L).toInt)
      Clustering.embeddingFeatures(Tables.embeddings(s, d), "vec_id", "embedding")
        .coalesce(nParts).localCheckpoint(true)
    }

  /** Build-once TF-IDF document-vector table (task 2.2's model input) —
    * the text pipeline, vocabulary indexing, and sparse vectorization run
    * once per dataset; each clustering query fits its own model over the
    * materialized vectors.
    */
  private def docVectors(s: SparkSession, d: String): DataFrame =
    PipelineOps.memoized(s, d, "doc_vectors") {
      // tfidf is cached: it feeds the vocab build and the triples join —
      // without the cache the whole text pipeline re-executes for each.
      val tfidf = TextPipeline.tfidf(s, d).cache()
      // contiguous 0-based term ids via order-preserving zipWithIndex —
      // not a global row_number window, which would single-partition the
      // vocabulary at scale (SURVEY S2)
      val vocab = {
        import s.implicits._
        tfidf.select("token").distinct().orderBy("token")
          .as[String].rdd.zipWithIndex()
          .map { case (t, i) => (t, i.toInt) }.toDF("token", "term_id")
      }.cache() // read twice: the triples join and the vocab-size count
      val triples = tfidf.join(vocab, "token").select("doc_id", "term_id", "tfidf")
      val vocabSize = vocab.count().toInt
      // coalesce before the iterative fit: each Lloyd iteration is a job
      // over the materialized vectors, and with only thousands of small
      // rows the per-task scheduling overhead of 32 partitions dominates —
      // at real scale the shuffle output would fill these partitions and
      // the coalesce becomes a no-op (target ~max(8, rows/50k) partitions).
      val vecs = Clustering.vectorize(triples, "doc_id", "term_id", "tfidf", vocabSize)
      val nParts = math.max(8, (vecs.count() / 50000L).toInt)
      val compact = vecs.coalesce(nParts).localCheckpoint(true) // eager
      tfidf.unpersist(); vocab.unpersist()
      compact
    }

  /** Build-once PCA model over `embeddings` (k = 5 of 64, seedless —
    * the fit is one deterministic Gramian pass + a driver-side
    * eigendecomposition; see [[graft.cluster.Pca]]).
    */
  private def pcaModel(s: SparkSession, d: String): graft.cluster.Pca.PcaModel =
    SessionArtifacts.get(s, PcaM, d)(
      graft.cluster.Pca.fit(Tables.embeddings(s, d), "embedding", k = 5))

  private val PcaM = new Kind[graft.cluster.Pca.PcaModel]("pca")

  /** Real PNG files on disk, staged once per (session, sfDir) from the
    * synthesizers' payloads for the every-10th document — what puts the
    * `binaryFile` ingestion path under the driver's DuckDB gate
    * (`mm_binary_ingest`): the staged corpus is re-read from disk
    * through [[Multimodal.mediaFromDirectory]] like any on-disk media
    * directory, and the decoded dimensions stay arithmetic in the id.
    */
  private def stagedMediaDir(s: SparkSession, d: String): String =
    SessionArtifacts.get(s, MediaDir, d) {
      val dir = java.nio.file.Files.createTempDirectory("graft-staged-media")
      Multimodal.synthesizeImages(
          Tables.documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0),
          "doc_id")
        .collect().foreach { r =>
          val id = r.getAs[Long]("media_id")
          java.nio.file.Files.write(dir.resolve(f"img_$id%08d.png"),
            r.getAs[Array[Byte]]("payload")): Unit
        }
      dir.toString
    }

  private val MediaDir = new Kind[String]("staged-media", { dir =>
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.delete(f))
    finally files.close()
  })

  val queries: Map[String, Q] = Map(
    // PCA projection, declared as its per-row Bessel/Pythagoras
    // contract: for an orthonormal projection onto k components,
    // Σ y_j² can never exceed ‖x − μ‖² (equality iff k = dim). A wrong
    // mean, a non-orthonormal basis, or a broken dot kernel violates it
    // on most rows. The projection itself is map-side codegen — one
    // vec_dot per component with the basis constant-folded as literals
    // and the mean shift folded to one scalar per component; no
    // centered intermediate array, no shuffle after the one-pass fit.
    "ml_pca_project" -> ((s, d) => {
      val m = pcaModel(s, d)
      val proj = graft.cluster.Pca.project(Tables.embeddings(s, d), "embedding", m)
      val projSq = graft.functions.VectorExprs.dot(col("projection"), col("projection"))
      val cenSq = graft.cluster.Pca.centeredSqNorm("embedding", m)
      proj.select(col("vec_id"), lit(m.k).as("k"),
        (cenSq - projSq >= lit(-1e-6)).cast("int").as("proj_ok"))
    }),

    // Whitening (the OPQ/whitening stage before PQ or isotropic
    // clustering), declared as ITS defining contract: every whitened
    // coordinate has unit sample variance over the corpus — checked
    // empirically with var_samp in one aggregation job.
    "ml_pca_whiten" -> ((s, d) => {
      import s.implicits._
      val m = pcaModel(s, d)
      val w = graft.cluster.Pca.whiten(Tables.embeddings(s, d), "embedding", m)
      val aggs = (0 until m.k).map(j =>
        var_samp(col("whitened")(j)).as(s"__v$j"))
      val row = w.agg(aggs.head, aggs.tail: _*).head()
      val unitOk = (0 until m.k).forall(j => math.abs(row.getDouble(j) - 1.0) < 1e-6)
      Seq((m.k, if (unitOk) 1 else 0)).toDF("k", "unit_variance_ok")
    }),

    // The fit's variance accounting, checked against the DATA it claims
    // to describe: the empirical per-component variance ratios of the
    // projected corpus (Σ y_j² over Σ ‖x − μ‖², one aggregation job)
    // must equal the model's eigen-derived ratios and be descending.
    "ml_pca_variance" -> ((s, d) => {
      import s.implicits._
      val m = pcaModel(s, d)
      val proj = graft.cluster.Pca.project(Tables.embeddings(s, d), "embedding", m)
      val aggs = (0 until m.k).map(j =>
        sum(col("projection")(j) * col("projection")(j)).as(s"__s$j"))
      val totAgg = sum(graft.cluster.Pca.centeredSqNorm("embedding", m)).as("__tot")
      val row = proj.agg(aggs.head, (aggs.tail :+ totAgg): _*).head()
      val sums = (0 until m.k).map(row.getDouble)
      val tot = row.getDouble(m.k)
      val ratiosMatch = sums.zipWithIndex.forall { case (sj, j) =>
        math.abs(sj / tot - m.varianceRatio(j)) < 1e-6
      }
      val descending = m.varianceRatio.zip(m.varianceRatio.drop(1))
        .forall { case (a, b) => a >= b - 1e-12 }
      Seq((m.k, if (ratiosMatch) 1 else 0, if (descending) 1 else 0))
        .toDF("k", "ratios_match", "ratios_descending")
    }),

    // M3/M7: MLlib K-Means (euclidean, k-means|| init) on embeddings,
    // declared as its nearest-center invariant: every vector must be
    // assigned to its closest center — hash-checked, not rows-only.
    "ml_kmeans_assign" -> ((s, d) => {
      val feats = embFeatures(s, d)
      val model = Clustering.fitKMeans(feats, k = 5, maxIter = 10, seed = 42L)
      model.transform(feats).select(col("vec_id"), Clustering.isNearest(col("features"),
        col("prediction"), model.clusterCenters, cosine = false).as("is_nearest"))
    }),

    // A10-adjacent (cosine path), declared as the structural contract the
    // oracle can pin: exactly k non-empty clusters partitioning all rows.
    "ml_kmeans_cosine_sizes" -> ((s, d) => {
      val feats = embFeatures(s, d)
      val model = Clustering.fitKMeans(feats, k = 5, maxIter = 10, seed = 42L,
        distanceMeasure = "cosine")
      model.transform(feats).groupBy(col("prediction"))
        .agg(count(lit(1)).as("__n"))
        .agg(count(lit(1)).cast("int").as("n_clusters"),
          sum("__n").as("total_members"),
          (min("__n") > 0).cast("int").as("all_nonempty"))
    }),

    // M7/A11: explicit Lloyd loop, declared as its invariants — the
    // assignment covers every input row, the loop ran within its budget,
    // and the per-iteration total WCSS is monotonically non-increasing
    // (Lloyd's guarantee) and finite. All four are oracle-pinned.
    "ml_lloyd_losses" -> ((s, d) => {
      import s.implicits._
      val res = Clustering.lloydLoop(s, embFeatures(s, d), "vec_id", k = 4, maxIter = 5)
      val totals = res.losses.groupBy(_._1).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1).map(_._2)
      val monotone = totals.zip(totals.drop(1))
        .forall { case (prev, next) => next <= prev * (1 + 1e-9) + 1e-9 }
      val allFinite = totals.forall(t => !t.isNaN && !t.isInfinite)
      val itersOk = res.iterations >= 1 && res.iterations <= 5
      Seq((res.assignments.count(),
        if (itersOk) 1 else 0, if (monotone) 1 else 0, if (allFinite) 1 else 0))
        .toDF("n_points", "iters_ok", "loss_monotone", "all_finite")
    }),

    // Doc clustering (task 2.2 shape): TF-IDF vectors -> cosine K-Means
    // over the build-once document-vector table, declared as the
    // nearest-center invariant (cosine distance) over the pipeline's
    // exact document set — the oracle recomputes that set relationally.
    "ml_doc_clusters" -> ((s, d) => {
      val compact = docVectors(s, d)
      // task 2.2's init mode IS random (`sources/2.2/source/KMeans.java:
      // 143-155`); the k-means|| variant is the 2.3 path
      // (BbcTasks.docKMeansScalable)
      val model = Clustering.fitKMeans(compact, k = 5, maxIter = 10, seed = 42L,
        initMode = "random", distanceMeasure = "cosine")
      // vocabulary-dimensional centers (~10^4 components) ride the
      // kernels as plan reference objects, not array literals, and the
      // cosine distance stays sparse-aware (O(nnz · k) per row)
      model.transform(compact).select(col("doc_id"), Clustering.isNearest(col("features"),
        col("prediction"), model.clusterCenters, cosine = true).as("is_nearest"))
    }),

    // Model-based quality filtering (the fastText-linear shape used for
    // corpus curation): logistic regression over hashed token features,
    // trained on the deterministic rolling-hash split (the SAME split as
    // tp_hash_split) and evaluated on the held-out side. The label is a
    // deterministic token-presence signal standing in for human quality
    // labels (the synthetic corpus has no real quality axis — same
    // rationale as the multimodal decode stubs); the ARCHITECTURE is the
    // deliverable: HashingTF is a pure map to fixed-width sparse vectors
    // (no vocabulary build, no shuffle — the hashing trick is what makes
    // 100 TB featurization one pass), the L-BFGS fit aggregates
    // dim-bounded gradient vectors per iteration (treeAggregate — driver
    // holds one coefficient vector, never rows), and scoring broadcasts
    // the coefficients as a pure map. Hashed contract per t7's rule:
    // exact split/label counts value-checked; the learned model asserted
    // through wide-margin flags (the label is linearly separable in the
    // features, so accuracy/AUC sit at ~1.0 vs the 0.95/0.98 gates).
    "ml_quality_lr" -> ((s, d) => {
      import s.implicits._
      val h = graft.functions.TextExprs.rollingHash(col("text"))
      val base = Tables.documents(s, d).select(
        col("doc_id"),
        graft.text.TextOps.tokens(graft.text.TextOps.clean(col("text")))
          .as("toks"),
        when(pmod(h, lit(10L)) < 8, "train").otherwise("test").as("split"),
        (col("text").contains("spark") || col("text").contains("vector"))
          .cast("double").as("label"))
      val feats = new org.apache.spark.ml.feature.HashingTF()
        .setInputCol("toks").setOutputCol("features")
        .setNumFeatures(1 << 15)
        .transform(base)
        .select("doc_id", "split", "label", "features")
        .localCheckpoint(true) // reused by the fit and both eval passes
      // both checkpoints are fully consumed inside this body (the result
      // rows are a driver Seq), so their pins are dropped before returning
      var scoredPin: DataFrame = null
      try {
        val trainSplit = feats.filter(col("split") === "train")
        // a fit needs rows; with no train split (empty corpus, or every doc
        // hashed into 'test') there is no model and no evaluation — the
        // oracle applies the SAME no-train-split guard, so both engines
        // return the empty grouped result (EmptyInputSpec contract)
        if (trainSplit.isEmpty)
          Seq.empty[(String, Long, Long, Int, Int)]
            .toDF("split", "n_docs", "n_pos", "acc_ok", "auc_ok")
        else {
          val model = new org.apache.spark.ml.classification.LogisticRegression()
            .setMaxIter(25).setRegParam(1e-3)
            .setFeaturesCol("features").setLabelCol("label")
            .fit(trainSplit)
          val scored = model.transform(feats).localCheckpoint(true)
          scoredPin = scored
          val auc = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
            .setLabelCol("label").setRawPredictionCol("rawPrediction")
          // only splits that exist emit a row (the oracle groups by split)
          val rows = Seq("train", "test").flatMap { sp =>
            val part = scored.filter(col("split") === sp)
            val agg = part.agg(
              count(lit(1)).as("n_docs"),
              sum("label").cast("long").as("n_pos"),
              avg((col("prediction") === col("label")).cast("double")).as("acc"))
              .head
            if (agg.getLong(0) == 0L) None // absent split: no evaluator job
            else {
              // a single-class split has no ROC curve — the evaluator
              // returns NaN, which is "trivially separable", not a
              // failure; the oracle pins auc_ok = 1 unconditionally, so
              // NaN must map to 1, not to a dataset-dependent 0
              val aucVal = auc.evaluate(part)
              Some((sp, agg.getLong(0), agg.getLong(1),
                if (agg.getDouble(2) >= 0.95) 1 else 0,
                if (aucVal.isNaN || aucVal >= 0.98) 1 else 0))
            }
          }
          rows.toDF("split", "n_docs", "n_pos", "acc_ok", "auc_ok")
        }
      } finally {
        graft.util.Pins.release(feats)
        if (scoredPin != null) graft.util.Pins.release(scoredPin)
      }
    }),

    // Gap-based sessionization (30-min inactivity) — relational, oracled.
    "ev_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .withColumn("session_idx", sum("new_session").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "event_id", "session_idx")
    }),

    // Tumbling 15-minute bucket aggregation (batch shape of the streaming
    // window; bucket as epoch seconds for engine-portable rendering).
    "ev_tumbling_15m" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy((floor(unix_timestamp(col("ts")) / 900) * 900).cast("long").as("w_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))),

    // Multimodal plumbing: synthesize binary payloads, stub-decode to
    // typed metadata (mapPartitions path — rows-only check).
    "mm_decode_meta" -> ((s, d) => {
      val media = Multimodal.synthesizeMedia(Tables.documents(s, d), "doc_id", "text")
      Multimodal.decodeMeta(s, media).toDF()
    }),

    // Multimodal frame sampling (flatMap path). The payload is the text's
    // bytes (pure-ASCII fixture), so the kept frame indices are exactly
    // predictable from the text length — hash-compared against DuckDB.
    "mm_frame_sample" -> ((s, d) => {
      val media = Multimodal.synthesizeMedia(Tables.documents(s, d), "doc_id", "text")
      Multimodal.sampleFrames(s, media).toDF()
        .select("media_id", "frame_idx")
    }),

    // Multimodal payload resize to a byte budget; the resulting byte count
    // is least(len, budget) — hash-compared against DuckDB.
    "mm_resize" -> ((s, d) => {
      val media = Multimodal.synthesizeMedia(Tables.documents(s, d), "doc_id", "text")
      Multimodal.resizePayload(media, targetBytes = 64)
        .select(col("media_id"), col("resized_bytes"))
    }),

    // REAL audio decode, oracle-checked: payloads are genuine RIFF/WAVE
    // files whose sample rate and frame count are arithmetic in the id,
    // the decoder is javax.sound.sampled (header-only), and DuckDB
    // predicts what a correct WAV parser must recover.
    "mm_audio_meta" -> ((s, d) => {
      val wavs = Multimodal.synthesizeAudio(Tables.documents(s, d), "doc_id")
      Multimodal.decodeAudioMeta(s, wavs).toDF()
        .select("media_id", "n_bytes", "sample_rate", "channels", "bits",
          "n_frames", "codec")
    }),

    // REAL video-container decode, oracle-checked: payloads are genuine
    // ISO BMFF (MP4) headers whose tkhd dimensions and mvhd duration are
    // arithmetic in the id, the decoder is a real box walker, and DuckDB
    // predicts what a correct parser must recover.
    "mm_video_meta" -> ((s, d) => {
      val vids = Multimodal.synthesizeVideo(Tables.documents(s, d), "doc_id")
      Multimodal.decodeVideoMeta(s, vids).toDF()
        .select("media_id", "n_bytes", "width", "height", "duration_ms",
          "n_tracks", "codec")
    }),

    // Codec IDENTITY from the container, oracle-checked: the synthesized
    // stsd sample entry round-robins the common web fourccs, and a
    // correct box walker must classify every payload without any frame
    // decoder — the metadata pass a mixed-codec corpus runs first.
    "mm_video_codec" -> ((s, d) => {
      val vids = Multimodal.synthesizeVideo(Tables.documents(s, d), "doc_id",
        withCodec = true)
      Multimodal.decodeVideoMeta(s, vids).toDF()
        .select("media_id", "n_bytes", "width", "codec")
    }),

    // REAL audio downsample, oracle-checked end to end: decode PCM,
    // decimate 2x, re-encode WAV, and declare the metadata of the
    // RE-DECODED output — DuckDB predicts the halved rate and frame
    // count a correct decode->transform->encode chain must produce.
    "mm_audio_downsample" -> ((s, d) => {
      val wavs = Multimodal.synthesizeAudio(Tables.documents(s, d), "doc_id")
      Multimodal.downsampleAudio(s, wavs, factor = 2).toDF()
        .select("media_id", "n_bytes", "sample_rate", "channels", "bits",
          "n_frames", "codec")
    }),

    // REAL codec-level video FRAME decode, oracle-checked: payloads are
    // genuine AVI/MJPEG containers (every frame a standalone JPEG), the
    // decoder is a RIFF `movi` walker + javax.imageio per frame, and
    // DuckDB predicts the frame count and per-frame dimensions a correct
    // decoder must recover.
    "mm_video_frames" -> ((s, d) => {
      val avis = Multimodal.synthesizeAviMjpeg(Tables.documents(s, d), "doc_id")
      Multimodal.decodeVideoFrames(s, avis).toDF()
        .select("media_id", "frame_idx", "width", "height", "codec")
    }),

    // REAL binary-file ingestion under the oracle gate (round 19): the
    // staged on-disk PNG corpus is read back through the binaryFile
    // source (ids parsed from the basenames, kind from the extension),
    // decoded with javax.imageio, and DuckDB predicts every decoded
    // dimension — certifying the scan→id/kind-mapping→spread→decode
    // chain end to end, not just the decode on in-memory payloads.
    "mm_binary_ingest" -> ((s, d) => {
      val media = Multimodal.mediaFromDirectory(s, stagedMediaDir(s, d))
      Multimodal.decodeImageMeta(s, media.filter(col("kind") === "image"))
        .toDF()
        .select("media_id", "width", "height", "channels", "codec")
    }),

    // REAL image decode, oracle-checked: payloads are genuine PNGs whose
    // dimensions are arithmetic in the id, the decoder is javax.imageio,
    // and DuckDB predicts what a correct decoder must recover.
    "mm_image_meta" -> ((s, d) => {
      val imgs = Multimodal.synthesizeImages(Tables.documents(s, d), "doc_id")
      Multimodal.decodeImageMeta(s, imgs).toDF()
        .select("media_id", "width", "height", "channels", "codec")
    }),

    // REAL image resize (bilinear, re-encoded PNG), verified by decoding
    // the resized payload: every output must be exactly 8x8 grayscale.
    "mm_image_resize" -> ((s, d) => {
      val imgs = Multimodal.synthesizeImages(Tables.documents(s, d), "doc_id")
      val resized = Multimodal.resizeImage(s, imgs, targetW = 8, targetH = 8).toDF()
      Multimodal.decodeImageMeta(s, resized).toDF()
        .select("media_id", "width", "height", "channels", "codec")
    }),

    // Multimodal feature extraction: normalized byte histogram over the
    // payload (ASCII fixtures -> byte == char code, so DuckDB can mirror
    // it from the text and the mapPartitions path is hash-compared).
    // Features are emitted as floor(ratio * 1e6) micro-units joined into
    // a string: integer-exact across engines (both compute the identical
    // IEEE divide-then-multiply), and array-typed outputs are unhashable
    // in common verification harnesses.
    "mm_byte_hist" -> ((s, d) => {
      val media = Multimodal.synthesizeMedia(Tables.documents(s, d), "doc_id", "text")
      Multimodal.byteHistogram(s, media, bins = 16).toDF()
        .select(col("media_id"),
          concat_ws(",", transform(col("features"),
            f => floor(f * 1e6).cast("long").cast("string"))).as("features"))
    }),

    // Image perceptual near-dup: dHash over REAL decoded PNG pixels
    // (9×8 area-average grid — each cell the mean of its source box, one
    // bit per adjacent-cell comparison — rescale-robust, unlike nearest
    // sampling), then the SimHash pigeonhole machinery VERBATIM — banded
    // equi-join
    // + codegen Hamming verify, never all-pairs. Fixtures are paired
    // near-identical patterns (ids 2g/2g+1, one perturbed pixel) whose
    // sampled pixels are arithmetic in the id, so DuckDB recomputes the
    // exact fingerprint a correct decoder+hash must produce and replays
    // the banding. The hash table is a BUILD-ONCE artifact (memoized per
    // (session, dataset), like the text SimHash signature table): it
    // feeds the band explode and both verify joins, and pinning exactly
    // one copy per dataset keeps repeated calls (soak/bench loops) from
    // accumulating pinned blocks — the pair result itself stays lazy.
    "mm_image_neardup" -> ((s, d) => {
      val sig = PipelineOps.memoized(s, d, "image_dhash_sigs") {
        val imgs = Multimodal.synthesizeNearDupImages(Tables.documents(s, d), "doc_id")
        Multimodal.dHash(s, imgs).toDF()
          .filter(col("dhash").isNotNull)
          .select(col("media_id"), col("dhash").as("simhash"))
          .localCheckpoint(true)
      }
      graft.dedup.Dedup.simhashPairsFromSignatures(sig, "media_id", bands = 4, maxDist = 3)
    }),

    // Audio perceptual near-dup: energy-envelope fingerprint over REAL
    // decoded PCM (9×8 time-window |amplitude| means, one bit per
    // adjacent-window comparison — resample-robust, the audio analogue
    // of mm_image_neardup's dHash), then the SimHash pigeonhole
    // machinery VERBATIM. Fixtures are paired envelopes (ids 2g/2g+1,
    // one perturbed window → at most one bit) whose window energies are
    // arithmetic in the id, so DuckDB recomputes the exact fingerprint
    // a correct decoder+hash must produce and replays the banding. The
    // fingerprint table is a build-once memoized artifact, like the
    // image hash table.
    "mm_audio_neardup" -> ((s, d) => {
      val sig = PipelineOps.memoized(s, d, "audio_afp_sigs") {
        val clips = Multimodal.synthesizeNearDupAudio(Tables.documents(s, d), "doc_id")
        Multimodal.audioFingerprint(s, clips).toDF()
          .filter(col("afp").isNotNull)
          .select(col("media_id"), col("afp").as("simhash"))
          .localCheckpoint(true)
      }
      graft.dedup.Dedup.simhashPairsFromSignatures(sig, "media_id", bands = 4, maxDist = 3)
    }),

    // Video perceptual near-dup, completing the image/audio/video triple
    // on the one shared band machinery: Motion-PNG-in-AVI fixtures decode
    // through the REAL RIFF walker + per-frame javax.imageio path
    // (lossless frames — the oracle predicts every pixel), per-frame
    // dHash, per-bit MAJORITY vote across frames (the temporal
    // fingerprint — robust to frame drops/re-encodes), then the SimHash
    // pigeonhole machinery VERBATIM. The v=1 twin perturbs 2 of 3
    // frames, so the majority flips for exactly the one affected bit.
    "mm_video_neardup" -> ((s, d) => {
      val sig = PipelineOps.memoized(s, d, "video_vfp_sigs") {
        val vids = Multimodal.synthesizeNearDupVideo(Tables.documents(s, d), "doc_id")
        Multimodal.videoFingerprint(s, vids).toDF()
          .filter(col("vfp").isNotNull)
          .select(col("media_id"), col("vfp").as("simhash"))
          .localCheckpoint(true)
      }
      graft.dedup.Dedup.simhashPairsFromSignatures(sig, "media_id", bands = 4, maxDist = 3)
    }),

    // 128-BIT perceptual near-dup triple: the same fixtures and the same
    // band machinery, fingerprinted on the 9×16 grid (exact 2×1 boxes on
    // the 18×16 images; exact 2-sample windows on the 288-frame audio) —
    // 4 bands of 32-bit keys. At fixed bands (pigeonhole recall needs
    // bands > maxDist) the WIDER fingerprint is the production scale
    // knob: the band join's random-collision birthday term is
    // O(n²/2^width), so 32-bit keys shrink it by 2¹⁶ vs 16-bit — what a
    // ≥1e5-signature corpus needs (BASELINE.md video_fingerprint_pairs;
    // soak row video_fingerprint_pairs128 measures the drop).
    "mm_image_neardup128" -> ((s, d) => {
      val sig = PipelineOps.memoized(s, d, "image_dhash128_sigs") {
        val imgs = Multimodal.synthesizeNearDupImages(Tables.documents(s, d), "doc_id")
        Multimodal.dHash(s, imgs, cols = 9, rows = 16).toDF()
          .filter(col("dhash").isNotNull)
          .select(col("media_id"), col("dhash").as("simhash"))
          .localCheckpoint(true)
      }
      graft.dedup.Dedup.simhashPairsFromSignatures(sig, "media_id",
        bands = 4, maxDist = 3, bits = 128)
    }),

    "mm_audio_neardup128" -> ((s, d) => {
      val sig = PipelineOps.memoized(s, d, "audio_afp128_sigs") {
        val clips = Multimodal.synthesizeNearDupAudio(Tables.documents(s, d), "doc_id")
        Multimodal.audioFingerprint(s, clips, cols = 9, rows = 16).toDF()
          .filter(col("afp").isNotNull)
          .select(col("media_id"), col("afp").as("simhash"))
          .localCheckpoint(true)
      }
      graft.dedup.Dedup.simhashPairsFromSignatures(sig, "media_id",
        bands = 4, maxDist = 3, bits = 128)
    }),

    "mm_video_neardup128" -> ((s, d) => {
      val sig = PipelineOps.memoized(s, d, "video_vfp128_sigs") {
        val vids = Multimodal.synthesizeNearDupVideo(Tables.documents(s, d), "doc_id")
        Multimodal.videoFingerprint(s, vids, cols = 9, rows = 16).toDF()
          .filter(col("vfp").isNotNull)
          .select(col("media_id"), col("vfp").as("simhash"))
          .localCheckpoint(true)
      }
      graft.dedup.Dedup.simhashPairsFromSignatures(sig, "media_id",
        bands = 4, maxDist = 3, bits = 128)
    })
  )

  /** The near-dup fixture's dHash fingerprint as DuckDB SQL over columns
    * `g` and `v` — generated from the SAME area-average cell geometry and
    * [[Multimodal.nearDupPixel]] constants the synthesizer renders, so
    * the oracle predicts bit-for-bit what the real decode+hash path must
    * output. On the 18×16 fixture every 9×8 cell is an exact 2×2 source
    * box, so the cell MEAN comparison `mean(cellA) > mean(cellB)` is the
    * integer-exact SUM comparison over 4 [[Multimodal.nearDupPixel]]
    * terms each (equal areas cancel the ÷4 — no floats cross engines).
    */
  /** The fixture's three-digit group mixing as SQL — shared by all three
    * formula replays below ([[Multimodal.nearDupPixel]]'s digit planes).
    */
  private def gMixSql(a1: Int, a2: Int, a3: Int): String =
    s"(g % 256) * $a1 + ((g // 256) % 256) * $a2 + ((g // 65536) % 256) * $a3"

  private def nearDupDhashSql(cols: Int = 9, rows: Int = 8): String = {
    def pix(i: Int, j: Int): String = {
      val mix = gMixSql(53 + 11 * i + 13 * j, 19 + 7 * i + 17 * j, 23 + 29 * i + 3 * j)
      val c = 3 * i * i + 5 * j * j + 7 * i * j
      val p = if (i == 0 && j == 0) " + CASE WHEN v = 1 THEN 200 ELSE 0 END" else ""
      s"(($mix + $c$p) % 256)"
    }
    def cellSum(cx: Int, cy: Int): String = {
      val x0 = cx * Multimodal.NearDupW / cols
      val x1 = (cx + 1) * Multimodal.NearDupW / cols
      val y0 = cy * Multimodal.NearDupH / rows
      val y1 = (cy + 1) * Multimodal.NearDupH / rows
      (for { j <- y0 until y1; i <- x0 until x1 } yield pix(i, j))
        .mkString("(", " + ", ")")
    }
    val bits = for { y <- 0 until rows; x <- 0 until cols - 1 } yield
      s"CASE WHEN ${cellSum(x, y)} > ${cellSum(x + 1, y)} THEN '1' ELSE '0' END"
    // variadic concat, not chained ||: DuckDB binds each || one level
    // deeper and caps recursion at 128 — a 128-bit chain exceeds it
    s"concat(${bits.mkString(", ")})"
  }

  /** The audio fixture's energy-envelope fingerprint as DuckDB SQL over
    * `g` and `v` — generated from [[Multimodal.nearDupSample]]'s
    * constants. Every window is exactly [[Multimodal.NearDupAudioWin]]
    * samples, so the mean comparison the real decoder path computes is
    * the integer-exact SUM comparison over the per-sample `% 256` terms
    * (equal widths cancel the divide — no floats cross engines).
    */
  private def nearDupAudioFpSql(cols: Int = 9, rows: Int = 8): String = {
    // the SAMPLE formula is the fixture's (fixed 9×8 64-bit geometry,
    // [[Multimodal.nearDupSample]]); the fingerprint GRID is the
    // engine's cols×rows — at 9×8 each window is the fixture's own
    // 4-sample window, at 9×16 each is an exact half of one. Equal
    // window widths keep the mean comparison the integer-exact SUM
    // comparison either way.
    val windows = cols * rows
    val n = Multimodal.NearDupAudioFrames
    require(n % windows == 0, "fixture frames must split into equal windows")
    def sampleTerm(i: Int): String = {
      val w64 = i / Multimodal.NearDupAudioWin
      val cx = w64 % 9
      val cy = w64 / 9
      val mix = gMixSql(53 + 11 * cx + 13 * cy, 19 + 7 * cx + 17 * cy,
        23 + 29 * cx + 3 * cy)
      val c = 3 * cx * cx + 5 * cy * cy + 7 * cx * cy +
        (i % Multimodal.NearDupAudioWin)
      val p = if (cx == 0 && cy == 0) " + CASE WHEN v = 1 THEN 200 ELSE 0 END" else ""
      s"(($mix + $c$p) % 256)"
    }
    def winSum(w: Int): String =
      (w * n / windows until (w + 1) * n / windows)
        .map(sampleTerm).mkString("(", " + ", ")")
    val bits = for { cy <- 0 until rows; cx <- 0 until cols - 1 } yield
      s"CASE WHEN ${winSum(cy * cols + cx)} > ${winSum(cy * cols + cx + 1)} THEN '1' ELSE '0' END"
    // variadic concat, not chained ||: DuckDB binds each || one level
    // deeper and caps recursion at 128 — a 128-bit chain exceeds it
    s"concat(${bits.mkString(", ")})"
  }

  /** The near-dup VIDEO fixture's temporal fingerprint as DuckDB SQL
    * over `g` and `v` — [[Multimodal.nearDupFramePixel]]'s constants
    * (the image formula + 17·f drift, v=1 perturbing frames 0 and 1)
    * through the per-frame integer-exact cell-SUM comparisons, then the
    * per-bit MAJORITY across [[Multimodal.NearDupVideoFrames]] frames —
    * exactly what a correct RIFF walk + lossless frame decode + dHash +
    * vote must produce, bit for bit.
    */
  private def nearDupVideoFpSql(cols: Int = 9, rows: Int = 8): String = {
    def pix(i: Int, j: Int, f: Int): String = {
      val mix = gMixSql(53 + 11 * i + 13 * j, 19 + 7 * i + 17 * j, 23 + 29 * i + 3 * j)
      val c = 3 * i * i + 5 * j * j + 7 * i * j + 17 * f
      val p = if (i == 0 && j == 0 && f < 2) " + CASE WHEN v = 1 THEN 200 ELSE 0 END" else ""
      s"(($mix + $c$p) % 256)"
    }
    def cellSum(cx: Int, cy: Int, f: Int): String = {
      val x0 = cx * Multimodal.NearDupW / cols
      val x1 = (cx + 1) * Multimodal.NearDupW / cols
      val y0 = cy * Multimodal.NearDupH / rows
      val y1 = (cy + 1) * Multimodal.NearDupH / rows
      (for { j <- y0 until y1; i <- x0 until x1 } yield pix(i, j, f))
        .mkString("(", " + ", ")")
    }
    val n = Multimodal.NearDupVideoFrames
    val bits = for { y <- 0 until rows; x <- 0 until cols - 1 } yield {
      val votes = (0 until n)
        .map(f => s"CASE WHEN ${cellSum(x, y, f)} > ${cellSum(x + 1, y, f)} THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"CASE WHEN $votes * 2 > $n THEN '1' ELSE '0' END"
    }
    // variadic concat, not chained ||: DuckDB binds each || one level
    // deeper and caps recursion at 128 — a 128-bit chain exceeds it
    s"concat(${bits.mkString(", ")})"
  }

  /** The shared near-dup oracle template: formula-predicted fingerprint
    * per id, 4-band pigeonhole candidate join, exact Hamming verify —
    * replaying [[graft.dedup.Dedup.simhashPairsFromSignatures]] at any
    * fingerprint width (band key width = bits/4).
    */
  private def nearDupOracle(fpSql: String, bits: Int): String = {
    val width = bits / 4
    s"""WITH ids AS (
       |  SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v FROM documents),
       |sims AS (SELECT doc_id, $fpSql AS simhash FROM ids),
       |bands AS (
       |  SELECT doc_id, b AS band, substr(simhash, CAST(1 + $width * b AS INT), $width) AS band_key
       |  FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT id_a, id_b,
       |    len(list_filter(range(1, ${bits + 1}), i ->
       |      substr(sa.simhash, CAST(i AS INT), 1) != substr(sb.simhash, CAST(i AS INT), 1)))
       |      AS hamming
       |  FROM cand
       |    JOIN sims sa ON sa.doc_id = id_a
       |    JOIN sims sb ON sb.doc_id = id_b) v
       |WHERE hamming <= 3""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // nearest-center invariant: a correct K-Means must assign every
    // vector to its closest center
    "ml_kmeans_assign" ->
      "SELECT vec_id, 1 AS is_nearest FROM embeddings",

    // exact split/label counts (same rolling-hash split as
    // tp_hash_split); the learned model is asserted via the wide-margin
    // accuracy/AUC flags. The no-train-split guard mirrors the engine:
    // with nothing to fit there are no rows, not a flagless 'test' row.
    "ml_quality_lr" ->
      s"""WITH t AS (SELECT
        |    CASE WHEN ${OracleFold.rollingHashSql("text")} % 10 < 8
        |      THEN 'train' ELSE 'test' END AS split,
        |    (text LIKE '%spark%' OR text LIKE '%vector%') AS label
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  1 AS acc_ok, 1 AS auc_ok
        |FROM t
        |WHERE (SELECT count(*) FROM t WHERE split = 'train') > 0
        |GROUP BY 1""".stripMargin,

    // per-row Bessel/Pythagoras contract of the orthonormal projection
    "ml_pca_project" ->
      "SELECT vec_id, 5 AS k, 1 AS proj_ok FROM embeddings",

    // the fit's eigen-derived variance ratios must equal the projected
    // corpus's empirical ratios, in descending order
    "ml_pca_variance" ->
      "SELECT 5 AS k, 1 AS ratios_match, 1 AS ratios_descending",

    // whitening's defining contract: unit sample variance per coordinate
    "ml_pca_whiten" ->
      "SELECT 5 AS k, 1 AS unit_variance_ok",

    // structural contract: exactly k=5 non-empty clusters partitioning
    // every input row
    "ml_kmeans_cosine_sizes" ->
      """SELECT 5 AS n_clusters, count(*) AS total_members, 1 AS all_nonempty
        |FROM embeddings""".stripMargin,

    // Lloyd invariants: full coverage, bounded iterations, monotone
    // non-increasing finite total loss
    "ml_lloyd_losses" ->
      """SELECT count(*) AS n_points, 1 AS iters_ok, 1 AS loss_monotone,
        |  1 AS all_finite
        |FROM embeddings""".stripMargin,

    // nearest-center invariant (cosine) over the text pipeline's exact
    // document set, recomputed relationally from the corpus
    "ml_doc_clusters" ->
      s"""SELECT DISTINCT doc_id, 1 AS is_nearest
         |FROM (${TextPipeline.oracle("t4_tfidf")}) t""".stripMargin,

    // the fingerprint every correct decoder+dHash must produce is
    // recomputed arithmetically per id; banding + Hamming replay the
    // Spark plan's join exactly (same shape as dd_simhash_pairs)
    "mm_image_neardup" -> nearDupOracle(nearDupDhashSql(), 64),
    // the 128-bit production variant: 9×16 area-average grid (exact 2×1
    // boxes on the 18×16 fixture) → 4 bands of 32-bit keys, shrinking
    // the band join's birthday term by 2¹⁶ — the documented scale knob
    // for ≥1e5-signature corpora
    "mm_image_neardup128" -> nearDupOracle(nearDupDhashSql(9, 16), 128),
    "mm_audio_neardup128" -> nearDupOracle(nearDupAudioFpSql(9, 16), 128),
    "mm_video_neardup128" -> nearDupOracle(nearDupVideoFpSql(9, 16), 128),

    // the envelope fingerprint a correct PCM decoder+hash must produce,
    // recomputed arithmetically per id; banding + Hamming replay the
    // Spark join exactly (mm_image_neardup's contract for audio)
    // the temporal majority-vote fingerprint a correct RIFF walk +
    // lossless frame decode + per-frame dHash must produce, recomputed
    // arithmetically per id; banding + Hamming replay the Spark join
    // exactly (mm_image_neardup's contract for video)
    "mm_video_neardup" -> nearDupOracle(nearDupVideoFpSql(), 64),

    "mm_audio_neardup" -> nearDupOracle(nearDupAudioFpSql(), 64),

    // the stub decode is deterministic modular arithmetic over the
    // payload BYTES, replayed value-for-value with the UTF-8 byte fold
    // (OracleFold — engine-exact on any payload text): polynomial hash
    // mod 1e9+7, then width/height; n_bytes = UTF-8 octet length
    "mm_decode_meta" ->
      s"""SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(16 + crc % 1024 AS INT) AS width,
        |  CAST(16 + (crc // 7) % 1024 AS INT) AS height,
        |  CAST(crc AS BIGINT) AS checksum
        |FROM (SELECT doc_id, text,
        |        ${OracleFold.rollingHashSql("text")} AS crc
        |      FROM documents) t""".stripMargin,

    // a correct ISO BMFF box walker must recover the synthesized
    // container fields (header-only payload: ftyp 20 + moov 216 bytes)
    "mm_video_meta" ->
      """SELECT doc_id AS media_id,
        |  236 AS n_bytes,
        |  CAST(16 * (1 + doc_id % 40) AS INT) AS width,
        |  CAST(9 * (1 + doc_id % 40) AS INT) AS height,
        |  CAST(500 + doc_id % 10000 AS BIGINT) AS duration_ms,
        |  1 AS n_tracks, 'mp4' AS codec
        |FROM documents""".stripMargin,

    // codec identity = the stsd sample-entry fourcc the synthesizer
    // round-robined in (payload: ftyp 20 + moov 264 bytes)
    "mm_video_codec" ->
      """SELECT doc_id AS media_id,
        |  284 AS n_bytes,
        |  CAST(16 * (1 + doc_id % 40) AS INT) AS width,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1' WHEN 2 THEN 'mp4v'
        |    WHEN 3 THEN 'vp09' ELSE 'av01' END AS codec
        |FROM documents""".stripMargin,

    // a correct decode->decimate->encode chain must halve the rate and
    // frame count; 44 = the canonical PCM WAV header javax.sound writes
    "mm_audio_downsample" ->
      """SELECT doc_id AS media_id,
        |  CAST(44 + ((50 + doc_id % 100 + 1) // 2) * 2 AS INT) AS n_bytes,
        |  CAST(4000 * (1 + doc_id % 3) AS INT) AS sample_rate,
        |  1 AS channels, 16 AS bits,
        |  CAST((50 + doc_id % 100 + 1) // 2 AS BIGINT) AS n_frames,
        |  'wav' AS codec
        |FROM documents""".stripMargin,

    // a correct RIFF walker + JPEG decoder must recover every frame of
    // the synthesized MJPEG container with its exact dimensions
    "mm_video_frames" ->
      """SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
        |  CAST(8 + doc_id % 8 AS INT) AS width,
        |  CAST(8 + doc_id % 5 AS INT) AS height,
        |  'mjpeg' AS codec
        |FROM documents, LATERAL unnest(range(0, CAST(2 + doc_id % 4 AS BIGINT))) t(f)""".stripMargin,

    // a correct WAV parser must recover the synthesized header fields
    "mm_audio_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(44 + (50 + doc_id % 100) * 2 AS INT) AS n_bytes,
        |  CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
        |  1 AS channels, 16 AS bits,
        |  CAST(50 + doc_id % 100 AS BIGINT) AS n_frames,
        |  'wav' AS codec
        |FROM documents""".stripMargin,

    "ev_sessionize" ->
      """SELECT user_id, event_id, CAST(session_idx AS BIGINT) AS session_idx FROM (
        |  SELECT user_id, event_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |      CASE WHEN prev_ts IS NULL OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM (
        |      SELECT user_id, event_id, ts,
        |        lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events) a) b) c""".stripMargin,

    "ev_tumbling_15m" ->
      """SELECT CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS w_bucket, event_type,
        |  count(*) AS n_events, sum(value) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // every 4th 64-byte chunk of the payload (= the ASCII text's bytes)
    "mm_frame_sample" ->
      """SELECT doc_id AS media_id, CAST(idx AS INT) AS frame_idx
        |FROM (SELECT doc_id,
        |        unnest(range(0, CAST(ceil(length(text) / 64.0) AS INT))) AS idx
        |      FROM documents) t
        |WHERE idx % 4 = 0""".stripMargin,

    "mm_resize" ->
      """SELECT doc_id AS media_id,
        |  CAST(least(length(text), 64) AS INT) AS resized_bytes
        |FROM documents""".stripMargin,

    // a correct real decoder must recover the synthesized dimensions
    "mm_image_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 16 AS INT) AS width,
        |  CAST(1 + doc_id % 9 AS INT) AS height,
        |  1 AS channels, 'imageio' AS codec
        |FROM documents""".stripMargin,

    // the ingested-from-disk subset must decode identically: ids round-
    // trip through the file basenames, dimensions stay arithmetic
    "mm_binary_ingest" ->
      """SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 16 AS INT) AS width,
        |  CAST(1 + doc_id % 9 AS INT) AS height,
        |  1 AS channels, 'imageio' AS codec
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin,

    "mm_image_resize" ->
      """SELECT doc_id AS media_id,
        |  8 AS width, 8 AS height, 1 AS channels, 'imageio' AS codec
        |FROM documents""".stripMargin,

    // histogram over the payload's UTF-8 BYTES (OracleFold expansion —
    // engine-exact beyond ASCII), bins of 16; micro-unit floor matches
    // the declared query's canonicalization exactly
    "mm_byte_hist" ->
      s"""SELECT doc_id AS media_id,
        |  array_to_string(list_transform(range(0, 16), b ->
        |    CAST(floor(len(list_filter(codes, c -> c // 16 = b)) * 1.0
        |      / greatest(len(codes), 1) * 1000000.0) AS BIGINT)), ',') AS features
        |FROM (SELECT doc_id,
        |        ${OracleFold.utf8BytesSql("text")} AS codes
        |      FROM documents) t""".stripMargin
  )
}
