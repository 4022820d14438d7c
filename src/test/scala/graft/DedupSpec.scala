package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup of 1
    (4L, "completely different words entirely here now today friends")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val got = Dedup.exact(docs, "doc_id", "text").collect()
    assert(got.length == 3)
    val dupGroup = got.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 1L) // keeper is the smaller id
  }

  test("shingles: n tokens -> n-2 trigram shingles, distinct per doc") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val d4 = sh.filter($"doc_id" === 4L).collect()
    assert(d4.length == 6) // 8 tokens -> 6 trigrams, all distinct
    assert(d4.map(_.getString(1)).forall(_.split(" ").length == 3))
  }

  test("jaccard: identical docs = 1.0, near dups high, unrelated absent") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("containment: an embedded doc fires the asymmetric score where Jaccard stays silent") {
    // doc 20 is doc 10's middle verbatim; the long doc's extra content
    // keeps symmetric Jaccard small while containment of 20 in 10 is 1.0
    val embedded = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
        "one two three four five six seven eight nine ten"),
      (20L, "eta theta iota kappa lambda mu nu"),
      (30L, "entirely different content with no shared trigram at all")
    ).toDF("doc_id", "text")
    val sh = graft.dedup.Dedup.shingles(embedded, "doc_id", "text", 3)
    val cont = graft.dedup.Dedup
      .containmentPairsFromShingles(sh, "doc_id", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.map(t => (t._1, t._2)).toSet == Set((10L, 20L)),
      s"only the embedded pair may fire, got ${cont.toSeq}")
    assert(cont.head._3 == 1.0, "a verbatim-embedded doc has containment 1.0")
    // and symmetric Jaccard on the same table stays below its threshold
    val jac = graft.dedup.Dedup
      .jaccardPairsFromShingles(sh, "doc_id", threshold = 0.5)
      .collect()
    assert(jac.isEmpty, "Jaccard must miss the asymmetric embedding case")
  }

  test("cosine pairs: identical docs = 1.0, near dups high, unrelated absent; cap is symmetric") {
    val pairs = Dedup.cosinePairs(docs, "doc_id", "text", threshold = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet.forall { case (a, b) => a < b })
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12, s"exact dup must score 1.0: $pairs")
    // TF-IDF downweights the shared common terms and upweights the one
    // differing rare term, so the near dup lands well below jaccard's
    // score for the same pair — still clearly separated from unrelated
    assert(pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 0.99,
      s"near dup must score mid-range: $pairs")
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L },
      s"unrelated doc must not pair: $pairs")

    // symmetric cap: at df <= 2 every term shared by docs 1 and 3 is
    // capped away (df = 3 via the exact dup), so the near-dup pair
    // vanishes — while the exact-dup pair (1,2) STILL scores exactly 1.0
    // on its one surviving term ("lazy", df = 2): the cap changes which
    // terms count, never the cosine identity of equal capped vectors
    val capped = Dedup.cosinePairs(docs, "doc_id", "text", threshold = 0.1,
        maxDf = Some(2L))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(!capped.contains((1L, 3L)), s"capped shared terms must drop the pair: $capped")
    assert(math.abs(capped((1L, 2L)) - 1.0) < 1e-12,
      s"equal capped vectors still cosine 1.0: $capped")
  }

  test("served near-dup scorers collect the same rows as their lazy plan bodies") {
    // the plan graft.Plans dumps is the served scorer minus its
    // checkpoints; both must compute the same pairs and spans
    import org.apache.spark.sql.DataFrame
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def assertSamePairs(what: String, served: DataFrame, plan: DataFrame): Unit = {
      val (a, b) = (pairs(served), pairs(plan))
      assert(a.nonEmpty, s"$what: the fixture must produce pairs")
      assert(a.keySet == b.keySet, s"$what: served $a vs plan $b")
      a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"$what $k: $v vs ${b(k)}") }
    }
    assertSamePairs("jaccard",
      Dedup.jaccardPairsFromShingles(sh, "doc_id", 0.3, Some(2L)),
      Dedup.jaccardPairsPlan(sh, "doc_id", 0.3, Some(2L)))
    assertSamePairs("containment",
      Dedup.containmentPairsFromShingles(sh, "doc_id", 0.5, None),
      Dedup.containmentPairsPlan(sh, "doc_id", 0.5, None))
    assertSamePairs("cosine",
      Dedup.cosinePairs(docs, "doc_id", "text", 0.1, Some(3L)),
      Dedup.cosinePairsPlan(docs, "doc_id", "text", 0.1, Some(3L)))
    def spans(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    val served = spans(Dedup.repeatedSpans(docs, "doc_id", "text", k = 4))
    assert(served.nonEmpty, "the fixture must produce repeated spans")
    assert(served == spans(Dedup.repeatedSpansPlan(docs, "doc_id", "text", 4)))
  }

  test("minhash signatures: identical docs share all hashes; lsh finds dups") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(4L))
    val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text", 3, 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.contains((1L, 4L)))
  }

  test("simhash: 64 bits, equal for identical docs, close for near dups") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    assert(sh(1L) == sh(2L))
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("simhash 128-bit: 64-bit prefix invariant, identical docs equal, pairs keep recall") {
    val sh128 = Dedup.simhash(docs, "doc_id", "text", bits = 128).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh128.values.forall(s => s.length == 128 && s.forall(c => c == '0' || c == '1')))
    // the first 64 bits sign the same md5-prefix bit scores as the
    // 64-bit fingerprint — widening never perturbs the narrow form
    val sh64 = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    sh64.foreach { case (id, s) => assert(sh128(id).take(64) == s, s"doc $id prefix") }
    assert(sh128(1L) == sh128(2L))
    // banded pairs at 128 bits: same pigeonhole recall bound — the
    // identical pair still surfaces at hamming 0 with 32-bit band keys
    val sig = Dedup.simhash(docs, "doc_id", "text", bits = 128).localCheckpoint(true)
    val got = Dedup.simhashPairsFromSignatures(sig, "doc_id",
        bands = 4, maxDist = 3, bits = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.contains((1L, 2L, 0)))
    sig.unpersist()
  }

  test("simhash pairs: identical docs pair at hamming 0, unrelated docs don't pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "entirely different subject matter about database query engines")
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text", 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 2L, 0)))
  }

  test("connected components: transitive closure over pairs, singletons kept") {
    import spark.implicits._
    val nodes = (1L to 7L).toDF("id")
    // 1-2, 2-3 chain (3 never paired with 1 directly); 5-6; 4 and 7 alone
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = graft.dedup.Dedup.connectedComponents(nodes, "id", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connected components: distributed loop matches local union-find on a long chain") {
    import spark.implicits._
    val n = 33L
    val nodes = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    def run(threshold: Long) = graft.dedup.Dedup
      .connectedComponents(nodes, "id", pairs, "a", "b", localThreshold = threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run(1000000L)     // pairs collected, driver union-find
    val distributed = run(0L)     // forced min-label-propagation loop
    assert(local == distributed)
    assert(local.values.toSet == Set(1L), "one chain -> one component rooted at 1")
  }

  test("connected components: the distributed loop leaves only its result pin") {
    import spark.implicits._
    val sc = spark.sparkContext
    val nodes = (1L to 7L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val before = sc.getPersistentRDDs.keySet
    val out = graft.dedup.Dedup
      .connectedComponents(nodes, "id", pairs, "a", "b", localThreshold = 0L)
    val added = sc.getPersistentRDDs.keySet -- before
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.util.Pins.release(out)
    assert(added.size == 1, s"distributed components left ${added.size} pins")
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("signature-contracted components equal the raw pair-graph closure (dup-heavy + empty docs)") {
    import spark.implicits._
    // 3 copies of text A (ids 1,2,3), 2 copies of B (4,5) where B chains to
    // A via a shared shingle-ish near-dup, unrelated C (6), empty doc (7)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "the quick brown fox jumps over the lazy dog at dawn"),
      (5L, "the quick brown fox jumps over the lazy dog at dawn"),
      (6L, "completely different content about storage engines and compaction"),
      (7L, "")
    ).toDF("doc_id", "text")
    val sig = graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8)
    val raw = graft.dedup.Dedup.connectedComponents(docs, "doc_id",
        graft.dedup.Dedup.minhashLshCandidates(docs, "doc_id", "text", 3, 4, 2),
        "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val contracted = graft.dedup.Dedup
      .lshComponentsFromSignatures(docs, "doc_id", sig, 4, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(contracted == raw, s"contracted=$contracted raw=$raw")
    assert(contracted(2L) == 1L && contracted(3L) == 1L, "exact dups collapse to min id")
    assert(contracted(7L) == 7L, "no-signature doc stays a singleton")
  }

  test("decontamination: overlap with the benchmark flags docs, clean docs absent") {
    import spark.implicits._
    val bench = Seq(
      (100L, "the capital of france is paris and everyone knows it")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "trivia time the capital of france is paris said the quiz"), // leaks a 3-gram run
      (2L, "unrelated text about distributed query engines and shuffles"),
      (3L, "of france is") // exactly one benchmark shingle
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got.contains(2L), "clean doc must not be flagged")
    assert(got(3L) == 1L, "single shared shingle -> n_hits 1")
    // doc 1 shares the 3-gram window run "the capital of" .. "france is paris":
    // shingles: "the capital of", "capital of france", "of france is", "france is paris"
    assert(got(1L) == 4L, s"got $got")
  }

  test("bloom-prefiltered decontamination matches the plain form exactly") {
    import spark.implicits._
    val bench = Seq(
      (100L, "the capital of france is paris and everyone knows it")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "trivia time the capital of france is paris said the quiz"),
      (2L, "unrelated text about distributed query engines and shuffles"),
      (3L, "of france is")
    ).toDF("doc_id", "text")
    val plain = graft.dedup.Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // aggressive fpp floods the prefilter with false positives — the
    // confirm join must still kill every one of them
    val bloom = graft.dedup.Dedup
      .decontaminateBloom(corpus, bench, "doc_id", "text", fpp = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom == plain, s"bloom=$bloom plain=$plain")
  }

  test("bloom decontamination: empty benchmark yields an empty report") {
    import spark.implicits._
    val corpus = Seq((1L, "some words here to shingle at least once")).toDF("doc_id", "text")
    val bench = corpus.filter($"doc_id" < 0)
    val got = graft.dedup.Dedup.decontaminateBloom(corpus, bench, "doc_id", "text")
    assert(got.collect().isEmpty)
    assert(got.columns.toSeq == Seq("doc_id", "n_hits"))
  }

  test("repeated spans: cross-doc boilerplate merges to one maximal span per doc") {
    import spark.implicits._
    val boiler = "this content is provided as is without warranty of any kind either express"
    val docs = Seq(
      (1L, s"alpha beta gamma $boiler delta epsilon"),          // boiler at pos 3
      (2L, s"$boiler totally different trailing words here now"), // boiler at pos 0
      (3L, "nothing here repeats across any other document in this tiny corpus at all ok")
    ).toDF("doc_id", "text")
    val spans = graft.dedup.Dedup.repeatedSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // boiler is 13 tokens -> 6 overlapping 8-gram windows, merged to ONE span
    val byDoc = spans.groupBy(_._1)
    assert(!byDoc.contains(3L), "unique doc must have no repeated spans")
    assert(byDoc(1L).toSeq == Seq((1L, 3, 16, 6L)), s"got ${byDoc(1L).toSeq}")
    assert(byDoc(2L).toSeq == Seq((2L, 0, 13, 6L)), s"got ${byDoc(2L).toSeq}")
  }

  test("group-aware split: no LSH near-dup pair ever straddles train/test") {
    import org.apache.spark.sql.functions._
    val d = SparkTestSession.sfDir
    val split = graft.queries.PipelineOps.queries("tp_group_split")(spark, d)
    // every doc appears exactly once with a split
    assert(split.count() ==
      graft.io.Tables.documents(spark, d).count())
    assert(split.select("split").distinct().as[String].collect().toSet
      .subsetOf(Set("train", "test")))
    // the leakage guarantee: both ends of every candidate near-dup pair
    // land on the SAME side (the per-doc hash split can't promise this)
    val pairs = graft.queries.PipelineOps.queries("dd_minhash_lsh")(spark, d)
      .select(col("id_a"), col("id_b"))
    val straddling = pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb"))
      .count()
    assert(straddling == 0,
      s"$straddling near-dup pairs straddle the group-aware split")
  }

  test("CDC chunking: boundaries re-align after an insertion; an edit only touches its own chunk") {
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random word stream long enough for many
    // content boundaries (divisor 16 -> ~25 chunks over 400 tokens)
    val words = (0 until 400).map(i => s"w${(i * 37 + 11) % 97}x${i % 13}")
    val a = words.mkString(" ")
    val b = "inserted " + a // one-token edit at the front
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val chunks = graft.dedup.Dedup.cdcChunks(docs, "doc_id", "text",
      k = 4, divisor = 16L).collect()
    def hashes(id: Long) = chunks.filter(_.getLong(0) == id)
      .map(r => (r.getAs[Long]("chunk_hash"), r.getAs[Long]("n_tokens"))).toSet
    val (ha, hb) = (hashes(1L), hashes(2L))
    assert(ha.size >= 5, s"fixture must produce several chunks, got ${ha.size}")
    // boundary decisions are local (the 4-token window), so only windows
    // overlapping the inserted token can change: every chunk of A past
    // its first boundary reappears verbatim in B — the CDC property a
    // positional scheme (fixed-width chunks, repeatedSpans' [start,end)
    // coordinates) cannot have, since the insertion shifts every
    // downstream position
    val lost = ha -- hb
    assert(lost.size <= 2,
      s"an edit must only affect chunks overlapping it, lost ${lost.size} of ${ha.size}")
    assert((ha & hb).size >= ha.size - 2)
    // and chunking is deterministic
    val again = graft.dedup.Dedup.cdcChunks(docs, "doc_id", "text",
      k = 4, divisor = 16L).collect()
    assert(again.map(_.toString).sorted.toSeq == chunks.map(_.toString).sorted.toSeq)
  }

  test("CDC dedup apply: an insertion-shifted duplicate deduplicates past the edit point") {
    import org.apache.spark.sql.functions._
    // same fixture shape as the chunking test: doc 2 is doc 1 with one
    // token inserted at the front, so every downstream POSITION shifts
    // but the chunks past the first re-aligned boundary hash identically
    val words = (0 until 400).map(i => s"w${(i * 37 + 11) % 97}x${i % 13}")
    val a = words.mkString(" ")
    val b = "inserted " + a
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.cdcDedupApply(docs, "doc_id", "text",
      k = 4, divisor = 16L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val (cleanA, cutChunksA, cutToksA) = out(1L)
    val (cleanB, cutChunksB, cutToksB) = out(2L)
    // doc 1 is canonical everywhere (smaller id): it passes through verbatim
    assert(cutChunksA == 0L && cutToksA == 0L)
    assert(cleanA == a, "canonical doc must be unchanged")
    // doc 2 loses the bulk of its tokens DESPITE the front insertion —
    // the chunk-level dedup positional spans can't do: most of its ~400
    // shared tokens sit in re-aligned chunks identical to doc 1's
    assert(cutChunksB >= 3, s"expected several excised chunks, got $cutChunksB")
    assert(cutToksB >= 300L, s"expected most shared tokens cut, got $cutToksB")
    // what doc 2 keeps is the inserted token + the pre-re-alignment
    // prefix + any chunk not repeated verbatim; every KEPT token count
    // is consistent: kept + cut = total
    val totalB = 401L
    assert(cleanB.split("\\s+").count(_.nonEmpty) + cutToksB == totalB)
    assert(cleanB.startsWith("inserted "), "the edit itself must survive")
    // every excised range's text really does exist verbatim in the
    // canonical doc (chunk-hash equality stands in for text equality)
    val chunks = graft.dedup.Dedup.cdcChunks(docs, "doc_id", "text",
      k = 4, divisor = 16L)
    val repeated = chunks.groupBy("chunk_hash", "n_tokens")
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).count()
    assert(repeated >= 3, "fixture must actually contain repeated chunks")
    // idempotence: re-applying on the deduped corpus cuts nothing new
    val cleaned = Seq((1L, cleanA), (2L, cleanB)).toDF("doc_id", "text")
    val second = graft.dedup.Dedup.cdcDedupApply(cleaned, "doc_id", "text",
      k = 4, divisor = 16L).collect()
    assert(second.forall(_.getLong(2) == 0L),
      "apply must be idempotent: no repeated chunks survive the first pass")
  }

  test("capped pair tables trade recall: a capped-away pair can split components; the LSH closure cannot") {
    import org.apache.spark.sql.functions._
    // docs 1 and 2 overlap on two shingles, one of which ("x y z") is
    // corpus-hot (10 filler docs carry it): UNCAPPED Jaccard keeps the
    // pair at threshold 0.5; a maxDf=5 cap drops the hot shingle and the
    // capped Jaccard (computed from the capped set, the documented
    // semantics) falls below threshold — the pair vanishes
    val docs = (Seq(
      (1L, "x y z a b"),
      (2L, "x y z a c")) ++
      (3L to 10L).map(i => (i, s"x y z f$i g$i"))).toDF("doc_id", "text")
    val uncapped = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = None)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = Some(5L))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)), "fixture: uncapped must pair docs 1-2")
    assert(!capped.contains((1L, 2L)), "fixture: the cap must drop the 1-2 pair")
    // the CONTRACT a capped-component split inherits: components built
    // from the capped table separate the two docs, so a split keyed on
    // those components CAN place a true near-dup pair on opposite sides
    // — capping trades exactly this recall for the bounded join key.
    def compOf(pairs: Set[(Long, Long)]): Map[Long, Long] = {
      val pdf = pairs.toSeq.toDF("id_a", "id_b")
      graft.dedup.Dedup.connectedComponents(docs, "doc_id", pdf, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val cc = compOf(capped)
    val cu = compOf(uncapped)
    assert(cu(1L) == cu(2L), "uncapped closure co-locates the pair")
    assert(cc(1L) != cc(2L),
      "capped closure must separate the dropped pair — the documented recall trade")
    // the DECLARED tp_group_split path is immune by construction: it
    // closes over the UNCAPPED LSH candidate table (dupComponents), the
    // no-straddle test above — this case pins why that choice matters
  }

  test("contaminated spans locate the leak; cutSpans excises exactly those tokens") {
    import spark.implicits._
    val leak = "what is the capital of france the answer is paris of course"
    val bench = Seq((100L, leak)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"intro words here $leak and some trailing content"), // leak at pos 3..15
      (2L, "a completely clean document with no overlap whatsoever in any window here")
    ).toDF("doc_id", "text")

    val spans = graft.dedup.Dedup.contaminatedSpans(corpus, bench, "doc_id", "text", k = 8)
    val got = spans.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, 3, 15)), s"got $got") // the 12-token leak, merged

    val cut = graft.dedup.Dedup.cutSpans(corpus, spans, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut(1L) == "intro words here and some trailing content",
      s"got '${cut(1L)}'")
    assert(cut(2L) == corpus.collect().find(_.getLong(0) == 2L).get.getString(1),
      "clean doc must pass through verbatim")
  }

  test("contamination report ranks benchmark docs by leak spread") {
    import spark.implicits._
    val leak = "what is the capital of france the answer is paris of course"
    val bench = Seq(
      (100L, leak),                                             // leaks into docs 1 and 2
      (101L, "a benchmark question nobody in the corpus has copied anywhere at all today")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"intro words here $leak and some trailing content"),
      (2L, s"$leak appears verbatim right at the start of this one"),
      (3L, "a completely clean document with no overlap whatsoever in any window here")
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup
      .contaminationReport(corpus, bench, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains(101L), "unleaked benchmark doc must not appear")
    val (nDocs, nGrams) = got(100L)
    assert(nDocs == 2L, s"leak reaches docs 1 and 2, got $nDocs")
    // the 12-token leak has 5 complete 8-gram windows, all shared
    assert(nGrams == 5L, s"expected 5 leaked grams, got $nGrams")
  }

  test("span cut is decontaminating: the cut corpus re-scans clean (fixture corpus)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // end-to-end soundness of find -> cut: after excising every
    // contaminated span, a SECOND contamination scan finds nothing.
    // (Cutting can in principle splice two clean fragments into a NEW
    // benchmark gram at the cut boundary — vanishingly unlikely on real
    // text and absent on this pinned fixture; the property documents the
    // end state a decontamination pipeline actually promises.)
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val spans = graft.dedup.Dedup.contaminatedSpans(corpus, bench, "doc_id", "text", k = 8)
    assert(spans.count() > 0, "fixture must actually contain leaks for this to mean anything")
    val cut = graft.dedup.Dedup.cutSpans(corpus, spans, "doc_id", "text")
      .withColumnRenamed("clean_text", "text")
    val residual = graft.dedup.Dedup
      .contaminatedSpans(cut, bench, "doc_id", "text", k = 8)
    assert(residual.count() == 0,
      s"cut corpus still contaminated: ${residual.collect().take(5).mkString(", ")}")
  }

  test("adaptive broadcast guard: the shuffle-join fallback produces identical results") {
    import spark.implicits._
    val leak = "what is the capital of france the answer is paris of course"
    val bench = Seq((100L, leak)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"intro words here $leak and some trailing content"),
      (2L, "a completely clean document with no overlap whatsoever in any window here"),
      (3L, "of france is") // one shared 3-shingle for the decontaminate case
    ).toDF("doc_id", "text")

    // maxBroadcastRows = 0 forces every guarded small side past the cap —
    // the exact path an eval set too big to broadcast would take
    def dec(cap: Long) = graft.dedup.Dedup
      .decontaminate(corpus, bench, "doc_id", "text", maxBroadcastRows = cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dec(0L) == dec(Long.MaxValue))

    def spansOf(cap: Long) = graft.dedup.Dedup
      .contaminatedSpans(corpus, bench, "doc_id", "text", k = 8, maxBroadcastRows = cap)
    def spanRows(cap: Long) = spansOf(cap)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(spanRows(0L) == spanRows(Long.MaxValue))

    def cutRows(cap: Long) = graft.dedup.Dedup
      .cutSpans(corpus, spansOf(Long.MaxValue), "doc_id", "text", maxBroadcastRows = cap)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (fb, bc) = (cutRows(0L), cutRows(Long.MaxValue))
    assert(fb == bc, s"fallback $fb != broadcast $bc")
    // and past the cap the HINT is gone — with the size-based auto
    // broadcast also off (as it would be for a genuinely large span
    // table), the anti join plans as a shuffle join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val forcedPlan = graft.dedup.Dedup
        .cutSpans(corpus, spansOf(Long.MaxValue), "doc_id", "text", maxBroadcastRows = 0L)
        .queryExecution.executedPlan.toString
      assert(
        "(SortMergeJoin|ShuffledHashJoin) [^\\n]*LeftAnti".r
          .findFirstIn(forcedPlan).isDefined,
        s"expected a shuffled anti join past the cap:\n$forcedPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("determinism guard: a Sample-bearing span side is refused; localCheckpoint is accepted") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val spans = Seq((1L, 0, 2)).toDF("doc_id", "span_start", "span_end")
    // even a SEEDED sample is refused — the documented over-rejection:
    // stability across the count-then-join double evaluation depends on
    // partition layout AQE can silently re-plan, so the guard refuses
    // every Sample rather than admitting ones it cannot prove stable
    val sampled = spans.sample(withReplacement = false, fraction = 1.0, seed = 42L)
    val e = intercept[IllegalArgumentException] {
      Dedup.cutSpans(corpus, sampled, "doc_id", "text")
    }
    assert(e.getMessage.contains("localCheckpoint"),
      s"the refusal must name the workaround, got: ${e.getMessage}")
    // and the named workaround is accepted: the checkpointed plan is a
    // deterministic scan, evaluated identically by count and join
    val pinnedSide = sampled.localCheckpoint(eager = true)
    try {
      val got = Dedup.cutSpans(corpus, pinnedSide, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(1L) == "c d e f")
    } finally graft.util.Pins.release(pinnedSide)
  }

  // ---- edit-distance linkage (round 18: both quadratic dimensions capped) --

  private def linkRecs = Seq(
    (1L, "small ring"), (2L, "small ring"), (3L, "small ring"),
    (4L, "small rings"),                     // 1 edit from "small ring"
    (5L, "smell ring"),                      // 1 edit, same "sm" block
    (6L, "small thing"),                     // 3 edits from "small ring"
    (7L, "large bolt"), (8L, "large bolts"), // 1 edit, "la" block
    (9L, "green gear")                       // no partner
  ).toDF("id", "name")

  private def bruteLinkage = {
    // the oracle shape: all id pairs, same 2-prefix, |len diff|<=2, lev<=3
    val rows = linkRecs.collect().map(r => (r.getLong(0), r.getString(1)))
    (for {
      (ia, na) <- rows; (ib, nb) <- rows
      if ia < ib && na.take(2) == nb.take(2) && na != nb &&
        math.abs(na.length - nb.length) <= 2
      d = {
        val dp = Array.tabulate(na.length + 1, nb.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to na.length; j <- 1 to nb.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
            dp(i - 1)(j - 1) + (if (na(i - 1) == nb(j - 1)) 0 else 1))
        dp(na.length)(nb.length)
      }
      if d <= 3
    } yield (ia, ib, d)).toSet
  }

  test("edit-distance linkage: uncapped result equals the brute-force oracle") {
    val got = Dedup.editDistancePairs(linkRecs, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == bruteLinkage, s"got $got expected $bruteLinkage")
  }

  test("edit-distance linkage: oversized blocks take the LSH route, verify stays exact") {
    // maxBlock=1 forces EVERY block through the char-shingle LSH path
    val got = Dedup.editDistancePairs(linkRecs, "id", "name", maxBlock = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // exactness: every emitted pair is a true pair with the true distance
    // (the cap trades RECALL, never precision — the lev verify is exact)
    assert(got.subsetOf(bruteLinkage), s"LSH route emitted a non-pair: $got")
    // recall on high-overlap pairs: a tail edit ("ring"/"rings",
    // "bolt"/"bolts") keeps every leading char 3-gram, so these pairs
    // share >80% of grams and must survive banding; an interior edit
    // ("small"/"smell") can legitimately fall below the band threshold —
    // that is the declared trade of the oversized-block route
    val tailEdits = Set((1L, 4L, 1), (2L, 4L, 1), (3L, 4L, 1), (7L, 8L, 1))
    assert(tailEdits.subsetOf(got),
      s"tail-edit pairs must survive the LSH route: missing ${tailEdits -- got}")
  }

  test("edit-distance linkage: past maxBroadcastPairs the expansion joins by shuffle, same result") {
    // maxBroadcastPairs=0 forces the non-broadcast route (the round-19
    // driver-size guard); the output must be identical to the default
    val got = Dedup.editDistancePairs(linkRecs, "id", "name",
        maxBroadcastPairs = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == bruteLinkage, s"got $got expected $bruteLinkage")
  }

  test("edit-distance linkage: maxIdsPerName keeps the smallest ids per name") {
    val got = Dedup.editDistancePairs(linkRecs, "id", "name", maxIdsPerName = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // "small ring" has ids {1,2,3}; the cap keeps {1,2}, so id 3 vanishes
    // from every pair while everything else is untouched
    val expected = bruteLinkage.filterNot(p => p._1 == 3L || p._2 == 3L)
    assert(got == expected, s"got $got expected $expected")
  }
}
