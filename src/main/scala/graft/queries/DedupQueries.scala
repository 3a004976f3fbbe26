package graft.queries

import graft.Q
import graft.ops.LinAlg.dot
import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** One distinct shingle of one document (top-level for Encoders). */
case class ShingleRow(doc_id: Long, nsh: Int, sh: String)

/** Per-document MinHash signature (one scan pass; narrow — no arrays). */
case class DocSig(doc_id: Long, nsh: Int,
    mh0: String, mh1: String, mh2: String, mh3: String,
    mh4: String, mh5: String, mh6: String, mh7: String)

/** Per-document 16-bit SimHash. */
case class DocSim(doc_id: Long, simhash: Long)

/** Per-document distinct shingle set. */
case class DocSet(doc_id: Long, nsh: Int, shs: Seq[String])

/** Deduplication operators for a training-data pipeline over the
  * `documents` table: exact (fingerprint groupBy), inverted-index
  * n-gram Jaccard, MinHash+LSH banding, SimHash, and embedding-cosine
  * near-dup. All hashing is md5-based so Spark and the DuckDB oracle
  * compute identical values (Spark's hash()/xxhash64 have no DuckDB
  * twin); MinHash takes the lexicographic min of fixed-width hex
  * strings, which is order-isomorphic to the usual integer min.
  *
  * Scale notes: the inverted-index join (d2) shuffles on shingle — the
  * standard exact-Jaccard plan; MinHash/LSH (d3) is the 100 TB path:
  * per-doc signatures reduce each doc to 8 hashes, candidates come from
  * equi-joins on band keys, and only candidates pay the exact-verify
  * cost. The testdata plants ~25 near-dup pairs (Jaccard ≈ 0.99).
  */
object DedupQueries {

  /** (doc_id, nsh, sh) exploded view of each document's DISTINCT word
    * 3-grams, via the native `graft_shingles` GENERATOR
    * ([[graft.functions.ShingleGenerator]]) — one codegen'd Generate
    * fused with the parquet scan.
    *
    * Spelling history (measured at sf0.1, 5k docs): higher-order-
    * function arrays ~11 s per evaluation (lambdas interpreted outside
    * codegen, multi-join plans re-evaluate the subtree);
    * posexplode+lead window 2.8 s but adds a shuffle; mapPartitions
    * flatMap ~1.1 s (plain JVM work, but a typed ser/de boundary that
    * breaks WholeStageCodegen around it). The generator keeps the JVM
    * kernel AND the codegen fusion: scan → Generate → consumer in one
    * span, no Dataset encode/decode per shingle row
    * (ShingleGeneratorSpec proves bit-identity vs the mapPartitions
    * spelling; PlanSpec pins the fused plan).
    */
  private[queries] def shingled(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), expr("graft_shingles(text, 3)"))

  private[queries] val duckShingles =
    """list_distinct(list_transform(
      |  range(0, len(list_filter(string_split(text, ' '), x -> x <> '')) - 2),
      |  j -> list_filter(string_split(text, ' '), x -> x <> '')[j+1] || ' ' ||
      |       list_filter(string_split(text, ' '), x -> x <> '')[j+2] || ' ' ||
      |       list_filter(string_split(text, ' '), x -> x <> '')[j+3]))""".stripMargin

  /** Word 3-shingles of `text` in order (space-split, empty tokens
    * dropped); none when it has fewer than 3 words — the tokeniser of
    * the MinHash, SimHash, shingle-set and winnowing passes. */
  private[queries] def shingles3(text: String): Iterator[String] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.length < 3) Iterator.empty
    else toks.sliding(3).map(_.mkString(" "))
  }

  /** The oracle's `sets` (each document's distinct 3-shingle list) and
    * `ex` (one row per (doc_id, nsh, sh)) CTEs. */
  private[queries] val duckShingleRows =
    s"""sets AS (
               SELECT doc_id, $duckShingles AS shs FROM documents),
             ex AS (
               SELECT doc_id, len(shs) AS nsh, unnest(shs) AS sh FROM sets)"""

  /** Per-doc 16-bit SimHash computed task-locally in the scan pass
    * (bit k = sign of Σ±1 over the doc's distinct 3-shingles, +1 iff hex
    * digit k of md5(shingle) ≥ 8) — same one-pass no-shuffle shape as
    * the MinHash signatures. d5 and d13 match on it. */
  private def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md5 = graft.ops.Hashing.newMd5()
        it.flatMap { case (id, text) =>
          val shs = shingles3(text).toSet
          if (shs.isEmpty) Iterator.empty
          else {
            val sums = new Array[Int](16)
            shs.foreach { sh =>
              val h = md5.hex(sh)
              var k = 0
              while (k < 16) {
                val v = Character.digit(h.charAt(k), 16)
                sums(k) += (if (v >= 8) 1 else -1)
                k += 1
              }
            }
            var sim = 0L
            var k = 0
            while (k < 16) {
              if (sums(k) > 0) sim |= 1L << k
              k += 1
            }
            Iterator.single(DocSim(id, sim))
          }
        }
      }.toDF()
  }

  /** The oracle of [[simhashSigs]]: `sig(doc_id, simhash)` and the CTEs
    * it is built from. */
  private val duckSimhashSigs =
    s"""sets AS (
               SELECT doc_id, $duckShingles AS shs FROM documents),
             ex AS (
               SELECT doc_id, md5(unnest(shs)) AS h FROM sets),
             bits AS (
               SELECT doc_id,
                 ${(1 to 16).map(k =>
                   s"sum(CASE WHEN strpos('0123456789abcdef', substr(h, $k, 1)) - 1 >= 8 THEN 1 ELSE -1 END) AS s$k")
                   .mkString(", ")}
               FROM ex GROUP BY 1),
             sig AS (
               SELECT doc_id,
                 ${(1 to 16).map(k =>
                   s"(CASE WHEN s$k > 0 THEN ${1L << (k - 1)} ELSE 0 END)")
                   .mkString(" + ")} AS simhash
               FROM bits)"""

  /** Exact dedup: md5 fingerprint of normalized text, canonical row =
    * min doc_id per fingerprint, per-source survivor counts.
    * The 100 TB plan: one shuffle on the 16-byte fingerprint.
    */
  private val d1 = Q(
    "d2_exact_dedup",
    (s, dir) => {
      val w = Window.partitionBy("fp").orderBy("doc_id")
      Tables.load(s, dir, "documents")
        .withColumn("fp", graft.ops.Corpus.fingerprint(col("text")))
        .withColumn("rn", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_survivors"))
        .orderBy("source")
    },
    Some("""SELECT source, count(*) AS n_docs,
                   CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_survivors
            FROM (
              SELECT source,
                row_number() OVER (
                  PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                  ORDER BY doc_id) AS rn
              FROM documents)
            GROUP BY 1 ORDER BY 1"""))

  /** Exact n-gram Jaccard near-dup via inverted index: explode shingle
    * sets, self-join on shingle, count shared per pair, Jaccard =
    * |A∩B| / (|A|+|B|-|A∩B|). No O(n²) pair enumeration — only pairs
    * sharing ≥1 shingle are materialized.
    */
  private val d2 = Q(
    "d3_ngram_jaccard",
    (s, dir) => {
      // The exploded index feeds BOTH join sides; without persist the
      // mapPartitions shingle scan executes once per side. NOTE: persist
      // registers with the session CacheManager, which holds the entry
      // until an explicit unpersist/clearCache — Bench/Verify clear the
      // cache after each query's action so per-query persists can't
      // accumulate across a run.
      val ex = shingled(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val a = ex.select(col("doc_id").as("doc_a"), col("nsh").as("na"), col("sh"))
      val b = ex.select(col("doc_id").as("doc_b"), col("nsh").as("nb"), col("sh"))
      a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(count(lit(1)).as("shared"))
        .withColumn("jaccard", round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4))
        .filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "shared", "jaccard")
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $duckShingleRows
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    count(*) AS shared,
                    round(count(*) * 1.0
                      / (a.nsh + b.nsh - count(*)), 4) AS jaccard
             FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
             HAVING round(count(*) * 1.0 / (a.nsh + b.nsh - count(*)), 4) >= 0.5
             ORDER BY 1, 2"""))

  /** MinHash + LSH: 8 permutations (min of md5(shingle||seed)), banded
    * 2-per-band into 4 LSH keys; docs sharing a band become candidates;
    * candidates are exactly verified with the d3 Jaccard. This is the
    * scale path: signature build is one pass over shingles, candidate
    * generation is an equi-join on (band_idx, band_key).
    */
  /** One scan pass computes each doc's shingle set AND its 8-hash
    * MinHash signature task-locally (no explode, no shuffle, no
    * repeated subtree evaluation — the signature build is
    * embarrassingly parallel, which is the whole point of MinHash
    * at 100 TB). md5 here is byte-identical to Spark/DuckDB md5().
    */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    minhashSigsOf(s, Tables.load(s, dir, "documents"))

  /** Signature pass over an ARBITRARY document slice — d28's ingest
    * path hashes only the appended batch, never the stored corpus.
    */
  private def minhashSigsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md5 = graft.ops.Hashing.newMd5()
        it.flatMap { case (id, text) =>
          val shs = shingles3(text).toSet
          if (shs.isEmpty) Iterator.empty
          else {
            val mhs = Array.fill[String](8)(null)
            shs.foreach { sh =>
              var i = 0
              while (i < 8) {
                val h = md5.hex(sh + "|" + i)
                if (mhs(i) == null || h < mhs(i)) mhs(i) = h
                i += 1
              }
            }
            Iterator.single(DocSig(id, shs.size,
              mhs(0), mhs(1), mhs(2), mhs(3),
              mhs(4), mhs(5), mhs(6), mhs(7)))
          }
        }
      }.toDF()
  }

  /** Per-document DISTINCT shingle SET (cheap string pass, no hashing) —
    * used by the exact-verify stages, which semi-join it down to the
    * candidate docs before persisting, so the cached footprint is
    * proportional to |candidates|, never to the corpus.
    */
  private def shingleSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val shs = shingles3(text).toSet
        if (shs.isEmpty) Iterator.empty
        else Iterator.single(DocSet(id, shs.size, shs.toSeq))
      })
      .toDF()
  }

  /** The 4-band×2-row banding of an 8-hash signature frame —
    * (doc_id, band_idx, band_key), shared by the LSH family and the
    * d28 stored-index build/probe (both sides MUST band identically
    * or stored buckets never match fresh probes).
    */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band_idx"),
          md5(concat(col(s"mh${2 * j}"), col(s"mh${2 * j + 1}")))
            .as("band_key"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_key"))

  /** The shared stages of the MinHash/LSH family (d4, d8, d9, d10):
    * persisted signatures, band self-join candidate pairs, and the
    * candidate-restricted shingle sets for exact verification.
    */
  private case class LshParts(sigs: DataFrame, cand: DataFrame,
      candSets: DataFrame)

  private def lshParts(s: SparkSession, dir: String): LshParts = {
    val sigs = minhashSigs(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val bands = bandsOf(sigs)
    // cand feeds the candidate-doc keyset AND the final join.
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // Exact verify on candidates only: re-derive shingle SETS (cheap
    // string pass, no hashing) for candidate docs alone, then
    // intersect in place. The persisted view is row-filtered to the
    // candidate set — cache footprint stays O(|candidates|) at any
    // corpus scale, never corpus-wide shingle arrays.
    val candSets = shingleSets(s, dir)
      .join(candDocs, Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    LshParts(sigs, cand, candSets)
  }

  /** LSH-verified near-dup pairs (doc_a, doc_b, jaccard ≥ 0.5) —
    * the d4 plan body, shared with the cluster queries d9/d10.
    */
  private def lshVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val p = lshParts(s, dir)
    val a = p.candSets.select(col("doc_id").as("doc_a"), col("nsh").as("na"),
      col("shs").as("shs_a"))
    val b = p.candSets.select(col("doc_id").as("doc_b"), col("nsh").as("nb"),
      col("shs").as("shs_b"))
    p.cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("shared", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", round(col("shared").cast("double")
        / (col("na") + col("nb") - col("shared")), 4))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The shared CTE chain of the d4/d9 oracles: shingle sets → minhash
    * signatures → LSH bands → candidates → exact-verified pairs.
    */
  /** The side-agnostic prefix (shingle sets → signatures → bands) —
    * shared by the self-join pair chain below and d23's incremental
    * batch×corpus chain. */
  private val duckLshBaseCtes =
    s"""$duckShingleRows,
       |sigs AS (
       |  SELECT doc_id,
       |    ${(0 until 8).map(i =>
            s"min(md5(sh || '|$i')) AS mh$i").mkString(", ")}
       |  FROM ex GROUP BY 1),
       |bands AS (
       |  ${(0 until 4).map(j =>
            s"SELECT doc_id, $j AS band_idx, md5(mh${2 * j} || mh${2 * j + 1}) AS band_key FROM sigs")
            .mkString(" UNION ALL ")})""".stripMargin

  private val duckLshPairCtes =
    s"""$duckLshBaseCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       |   AND x.doc_id < y.doc_id),
       |stats AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.nsh AS na, b.nsh AS nb, count(*) AS shared
       |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |         round(shared * 1.0 / (na + nb - shared), 4) AS jaccard
       |  FROM cand c JOIN stats st
       |    ON c.doc_a = st.doc_a AND c.doc_b = st.doc_b
       |  WHERE round(shared * 1.0 / (na + nb - shared), 4) >= 0.5)""".stripMargin

  private val d3 = Q(
    "d4_minhash_lsh",
    (s, dir) => lshVerifiedPairs(s, dir).orderBy("doc_a", "doc_b"),
    Some(s"""WITH $duckLshPairCtes
             SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY 1, 2"""))

  /** SimHash: 16-bit signature from per-shingle md5 hex digits — bit k
    * is the sign of Σ±1 over shingles (digit k ≥ 8 → +1). Pairs with
    * identical signatures are near-dup candidates. One pass + one
    * equi-join on the signature; the cheapest near-dup screen at scale.
    */
  private val d4 = Q(
    "d5_simhash",
    (s, dir) => {
      val sig = simhashSigs(s, dir)
      sig.as("x").join(sig.as("y"),
          col("x.simhash") === col("y.simhash") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.simhash"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $duckSimhashSigs
             SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.simhash
             FROM sig x JOIN sig y
               ON x.simhash = y.simhash AND x.doc_id < y.doc_id
             ORDER BY 1, 2"""))

  /** Embedding-cosine near-dup: brute-force pairwise cosine over the
    * embeddings table, pairs above threshold. The brute-force O(n²)
    * baseline — the LSH-bucketed scale path lives in SimilarityQueries.
    */
  private val d5 = Q(
    "d6_embedding_neardup",
    (s, dir) => {
      // Distributed block join: the normalized corpus joins itself
      // under only the vec_a < vec_b condition, so the planner picks
      // BroadcastNestedLoopJoin while one side fits the broadcast
      // threshold and degrades to CartesianProduct (each task = one
      // pair of partition blocks — exactly the tiled-broadcast shape)
      // beyond it. No driver-side collect anywhere: driver memory is
      // O(1) in corpus size, unlike a collect+broadcast which OOMs the
      // driver long before the executors are busy. The dot product is
      // the codegen'd native graft_dot — the join condition and
      // projection both stay compiled. (Rejected, both measured:
      // zip_with/aggregate lambdas are interpreted per pair (~36 s);
      // unrolling dim=64 into scalar Add chains stalls Catalyst
      // constraint inference for minutes.)
      // e feeds both join sides; persist so the scan + interpreted
      // per-element cast + norm run once (small: vec_id + 64 doubles).
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // BASELINE-ONLY GUARD: exact all-pairs cosine is O(n²) by
      // definition — this query exists as the labeled ground-truth
      // baseline for d11 (cell-blocked semantic dedup, same threshold)
      // and the ANN tier (s2/s5). Refuse loudly rather than silently
      // launch a cartesian over a production-sized corpus. (The count
      // also warms the persisted cache both join sides reuse.)
      val nVecs = e.count()
      // Threshold derivation (not a magic number): the codegen'd
      // graft_dot sustains ~10M 64-dim pair-dots/sec/core (measured at
      // sf0.1); on a 32-core node that is ~3.2e8 pairs/sec, so a 2-hour
      // baseline budget buys ~2.3e12 pairs ≈ (2.1e6)²/2. One order of
      // magnitude of safety margin for wider vectors / busier nodes
      // gives n ≈ 2e5 — beyond that the quadratic term outgrows any
      // single-node budget and the answer is the bucketed tier, not a
      // bigger budget.
      require(nVecs <= 200000L,
        s"d6_embedding_neardup is the exact all-pairs baseline " +
          s"($nVecs vectors): use d11_semantic_dedup / s5_ivf_kmeans " +
          "at corpus scale")
      val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("nrm_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nrm_b"))
      a.join(b, col("vec_a") < col("vec_b"))
        .withColumn("cosine",
          round(dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")), 4))
        .filter(col("cosine") >= 0.45)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    },
    Some("""WITH e AS (
              SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            n AS (
              SELECT vec_id, v,
                sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
              FROM e)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_sum(list_transform(list_zip(a.v, b.v),
                       s -> s[1] * s[2])) / (a.nrm * b.nrm), 4) AS cosine
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE round(list_sum(list_transform(list_zip(a.v, b.v),
                s -> s[1] * s[2])) / (a.nrm * b.nrm), 4) >= 0.45
            ORDER BY 1, 2"""))

  /** DF-capped Jaccard: candidate pairs must share ≥3 RARE shingles
    * (document frequency ≤ 10) — DF cap plus min-support, the standard
    * stop-shingle mitigation that bounds the per-shingle join fanout at
    * adversarial corpus scale (a shingle in k docs costs k² pair rows),
    * while min-support keeps the candidate set near-dup-sized instead
    * of coincidence-sized (measured sf0.1: 435,954 pairs share ≥1 rare
    * shingle, 894 share ≥3; true near-dups share ~99). Candidates are
    * then verified EXACTLY against the full shingle sets, so reported
    * Jaccards are unchanged; only pairs with <3 rare shared shingles
    * can be missed.
    */
  private val d7 = Q(
    "d7_jaccard_dfcap",
    (s, dir) => {
      // Candidate generation in ONE evaluation of the shingle pass:
      // group the inverted index per shingle, DF-cap the posting list
      // (≤10 docs), and emit the pairs combinatorially from the sorted
      // array — no rare-filter join, no exploded self-join (which would
      // re-execute the shingle scan once per join side). The pair
      // lambdas are interpreted but run over ≤10-element arrays, one
      // row per rare shingle. The DF cap bounds the quadratic fanout:
      // a hot shingle contributes nothing instead of df² pairs.
      // ex feeds only the postings aggregation (verify re-derives
      // candidate shingle sets separately) — single use, no persist.
      val ex = shingled(s, dir)
      val postings = ex.groupBy("sh")
        .agg(array_sort(collect_set(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 10))
      // cand is consumed twice (candidate-doc keyset + final join).
      // Min-support: a pair qualifies only with >= 3 shared rare
      // shingles — one aggregate over the emitted pairs replaces
      // distinct() and shrinks the verify input ~500x.
      val cand = postings
        .select(explode(flatten(transform(col("ds"), (x, i) =>
          transform(slice(col("ds"), i + lit(2), size(col("ds"))),
            y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_rare"))
        .filter(col("n_rare") >= 3)
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Exact verify restricted to CANDIDATE DOCUMENTS' shingles only —
      // this is what makes the DF cap mean something: a hot shingle
      // contributes pairs only among candidate docs, never the full df²
      // fanout the cap exists to bound. Shingle sets are re-derived for
      // the (tiny) candidate set via the cheap no-hash scan and
      // intersected in place, the same verify shape d4 uses — stable
      // because both join sides are candidate-sized, so even when
      // Catalyst fuses the jaccard filter into the join it evaluates
      // over ~|candidates| probes, not the corpus. (The r3-r4 shape —
      // inverted-index pair counts semi-joined to candidates — re-paid
      // a full-index shuffle per run; measured 4.8 s vs ~2 s here.)
      val candDocs = cand
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      // No explicit broadcast hint: on an adversarial corpus the
      // candidate set can approach the full corpus, and an unconditional
      // broadcast of billions of ids would OOM; AQE sees the runtime
      // size of candDocs and picks broadcast when it is actually small.
      val candSets = shingleSets(s, dir)
        .join(candDocs, Seq("doc_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val a = candSets.select(col("doc_id").as("doc_a"), col("nsh").as("na"),
        col("shs").as("shs_a"))
      val b = candSets.select(col("doc_id").as("doc_b"), col("nsh").as("nb"),
        col("shs").as("shs_b"))
      cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
        .withColumn("shared", size(array_intersect(col("shs_a"), col("shs_b"))))
        .withColumn("jaccard", round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4))
        .filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $duckShingleRows,
             rare AS (
               SELECT sh FROM ex GROUP BY 1 HAVING count(*) <= 10),
             cand AS (
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM (SELECT doc_id, sh FROM ex SEMI JOIN rare USING (sh)) a
               JOIN (SELECT doc_id, sh FROM ex SEMI JOIN rare USING (sh)) b
                 ON a.sh = b.sh AND a.doc_id < b.doc_id
               GROUP BY 1, 2 HAVING count(*) >= 3),
             stats AS (
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.nsh AS na, b.nsh AS nb, count(*) AS shared
               FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
               GROUP BY 1, 2, 3, 4)
             SELECT c.doc_a, c.doc_b,
                    round(shared * 1.0 / (na + nb - shared), 4) AS jaccard
             FROM cand c JOIN stats st
               ON c.doc_a = st.doc_a AND c.doc_b = st.doc_b
             WHERE round(shared * 1.0 / (na + nb - shared), 4) >= 0.5
             ORDER BY 1, 2"""))

  /** MinHash ESTIMATED Jaccard vs exact, per LSH candidate pair: the
    * estimate is the fraction of the 8 signature components that agree
    * — the statistic an at-scale pipeline would threshold on INSTEAD of
    * exact verification (estimate is O(perms) per pair; exact is
    * O(|shingles|)). Emitting est and exact side by side makes the
    * estimator's error measurable (and oracle-checkable).
    */
  private val d8 = Q(
    "d8_minhash_est",
    (s, dir) => {
      // Shares the persisted sigs/cand/candSets stages with the rest of
      // the LSH family (lshParts); the signature persist serves 4 uses
      // here (band self-join + both est sides), and shingle arrays are
      // only ever candidate-restricted.
      val p = lshParts(s, dir)
      val aCols = p.sigs.select(
        col("doc_id").as("doc_a") +:
          (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
      val bCols = p.sigs.select(
        col("doc_id").as("doc_b") +:
          (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
      val aSet = p.candSets.select(col("doc_id").as("doc_a"),
        col("nsh").as("na"), col("shs").as("shs_a"))
      val bSet = p.candSets.select(col("doc_id").as("doc_b"),
        col("nsh").as("nb"), col("shs").as("shs_b"))
      val nEq = (0 until 8).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
      p.cand.join(aCols, Seq("doc_a")).join(bCols, Seq("doc_b"))
        .join(aSet, Seq("doc_a")).join(bSet, Seq("doc_b"))
        .withColumn("est_j", round(nEq.cast("double") / 8.0, 4))
        .withColumn("shared", size(array_intersect(col("shs_a"), col("shs_b"))))
        .withColumn("exact_j", round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4))
        .withColumn("abs_err", round(abs(col("est_j") - col("exact_j")), 4))
        .select("doc_a", "doc_b", "est_j", "exact_j", "abs_err")
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $duckShingleRows,
             sigs AS (
               SELECT doc_id,
                 ${(0 until 8).map(i =>
                   s"min(md5(sh || '|$i')) AS mh$i").mkString(", ")}
               FROM ex GROUP BY 1),
             bands AS (
               ${(0 until 4).map(j =>
                 s"SELECT doc_id, $j AS band_idx, md5(mh${2 * j} || mh${2 * j + 1}) AS band_key FROM sigs")
                 .mkString(" UNION ALL ")}),
             cand AS (
               SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
               FROM bands x JOIN bands y
                 ON x.band_idx = y.band_idx AND x.band_key = y.band_key
                AND x.doc_id < y.doc_id),
             est AS (
               SELECT c.doc_a, c.doc_b,
                 round((${(0 until 8).map(i =>
                   s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
                   .mkString(" + ")}) / 8.0, 4) AS est_j
               FROM cand c
               JOIN sigs sa ON sa.doc_id = c.doc_a
               JOIN sigs sb ON sb.doc_id = c.doc_b),
             stats AS (
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.nsh AS na, b.nsh AS nb, count(*) AS shared
               FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
               GROUP BY 1, 2, 3, 4)
             SELECT e.doc_a, e.doc_b, e.est_j,
                    round(shared * 1.0 / (na + nb - shared), 4) AS exact_j,
                    round(abs(e.est_j
                      - round(shared * 1.0 / (na + nb - shared), 4)), 4)
                      AS abs_err
             FROM est e JOIN stats st
               ON e.doc_a = st.doc_a AND e.doc_b = st.doc_b
             ORDER BY 1, 2"""))

  /** Dedup CLUSTERS: connected components over the LSH-verified
    * near-dup pairs — the step that turns pairwise matches into
    * dedup groups (pick one survivor per component, not per pair; a
    * pair list alone double-counts chains A~B~C). Spark side:
    * [[graft.ops.ConnectedComponents.minLabel]] — min-label
    * propagation WITH per-round pointer jumping, run to FIXPOINT
    * (Σlabels strictly decreases until convergence). The jump makes
    * rounds O(log diameter) instead of O(diameter), so adversarially
    * chain-shaped corpora converge in ~13 rounds at depth 4096
    * (measured, ConnectedComponentsSpec) while the tiny-clique common
    * case still finishes in 2-3. At 100 TB each round is two
    * doc_id-keyed equi-join shuffles.
    * Oracle: DuckDB recursive CTE computing min reachable doc_id.
    */
  /** Connected-component labels (doc_id → min reachable doc_id) over
    * the LSH-verified near-dup pairs — the d9 loop body, shared with
    * the survivorship query d10.
    */
  private def ccLabels(s: SparkSession, dir: String): DataFrame = {
    val pairs = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
    // the symmetric union is localCheckpoint'ed inside
    // ConnectedComponents.minLabel, truncating the minhash/verify
    // lineage once before the loop (the d9 lesson: per-round Catalyst
    // re-analysis of the growing tree, not execution, was the cost —
    // measured 1-2.5 s/round planning vs ~50 ms execution at sf0.1).
    val edges = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val (labels, _) = graft.ops.ConnectedComponents.minLabel(edges)
    labels.select(col("doc_id"), col("lbl").as("cluster"))
  }

  /** The oracle of [[ccLabels]] after `WITH RECURSIVE`: `comp(doc_id,
    * cluster)`, the min doc_id reachable over the verified pairs. */
  private val duckCcLabels =
    s"""$duckLshPairCtes,
             edges AS (
               SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION ALL
               SELECT doc_b, doc_a FROM pairs),
             reach(src, dst) AS (
               SELECT DISTINCT src, src FROM edges
               UNION
               SELECT r.src, e.dst FROM reach r
               JOIN edges e ON r.dst = e.src),
             comp AS (
               SELECT src AS doc_id, min(dst) AS cluster
               FROM reach GROUP BY 1)"""

  private val d9 = Q(
    "d9_dedup_clusters",
    (s, dir) => {
      val labels = ccLabels(s, dir)
      val sizes = labels.groupBy("cluster")
        .agg(count(lit(1)).as("n_docs"))
      labels.join(sizes, Seq("cluster"))
        .select("doc_id", "cluster", "n_docs")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $duckCcLabels,
             sizes AS (
               SELECT cluster, count(*) AS n_docs FROM comp GROUP BY 1)
             SELECT doc_id, cluster, n_docs
             FROM comp JOIN sizes USING (cluster)
             ORDER BY doc_id"""))

  /** Cluster SURVIVORSHIP: one canonical document per near-dup
    * component — the policy step after clustering (d9): the survivor
    * is the member from the lowest-numbered source (primary sources
    * win over mirrors), doc_id as tie-break. Emits per-cluster
    * survivor + member count + the dropped members' sources rolled up,
    * i.e. exactly the delete-list a dedup pass ships. The metadata
    * join is doc-cardinality on the component members only.
    */
  private val d10 = Q(
    "d10_cluster_survivors",
    (s, dir) => {
      val labels = ccLabels(s, dir)
      val meta = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          regexp_extract(col("source"), "(\\d+)", 1).cast("int")
            .as("src_num"))
      val w = Window.partitionBy("cluster").orderBy("src_num", "doc_id")
      labels.join(meta, Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_docs"),
          min(when(col("rn") === 1, col("doc_id"))).as("survivor_doc"),
          min(when(col("rn") === 1, col("source"))).as("survivor_source"),
          sum(when(col("rn") =!= 1, 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE $duckCcLabels,
             ranked AS (
               SELECT c.cluster, c.doc_id, d.source,
                 row_number() OVER (PARTITION BY c.cluster
                   ORDER BY CAST(regexp_extract(d.source, '(\\d+)', 1)
                     AS INT), c.doc_id) AS rn
               FROM comp c JOIN documents d USING (doc_id))
             SELECT cluster, count(*) AS n_docs,
                    min(CASE WHEN rn = 1 THEN doc_id END) AS survivor_doc,
                    min(CASE WHEN rn = 1 THEN source END) AS survivor_source,
                    CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_dropped
             FROM ranked GROUP BY 1 ORDER BY 1"""))

  /** SEMANTIC dedup at scale: embedding near-dup restricted to
    * converged k-means cells — the blocked path that replaces d6's
    * all-pairs baseline: vectors shuffle ONCE on their cell key and
    * pairs are enumerated within cells only (cost Σ|cell|² instead of
    * n²; recall bounded by cluster assignment — a documented tradeoff,
    * pairs straddling a cell boundary are missed, the same contract as
    * LSH bucketing). Same 0.45 cosine threshold as d6, so the two
    * outputs are directly comparable.
    *
    * Round 9: k is SIZE-AWARE (KMeansOps.adaptiveK — corpus/500 cells,
    * floor 4), the broadcastEdgeLimit-style fix for the cliff the
    * `semantic` ScaleProbe measured: fixed k=4 made Σ|cell|² quadratic
    * in corpus (64× at 8× corpus, 0.36→4.22 s) while scaled k holds it
    * linear (0.37→0.69 s, ~95 % pair recall). Both engines derive the
    * same k from the same count, and at the driver's test scales this
    * is exactly k=4, so the oracle replay is unchanged.
    */
  private val d11 = Q(
    "d11_semantic_dedup",
    (s, dir) => {
      val cent = KMeansOps.centroids(s, dir, KMeansOps.iters, kk = 0)
      // e feeds both self-join sides; persist so the scan + k-literal
      // argmin assignment + norm run once (same pattern as d6's e)
      val e = KMeansOps.loadV(s, dir)
        .withColumn("cell", KMeansOps.assignExpr(cent))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val a = e.select(col("cell"), col("vec_id").as("vec_a"),
        col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("cell"), col("vec_id").as("vec_b"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("cell")).filter(col("vec_a") < col("vec_b"))
        .withColumn("cosine",
          round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
        .filter(col("cosine") >= 0.45)
        .select("cell", "vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    },
    Some(KMeansOps.duckCtes(KMeansOps.iters, KMeansOps.adaptiveKSql) + s""",
         |n AS (
         |  SELECT vec_id, v,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
         |  FROM e),
         |af AS (
         |  SELECT vec_id, v, nrm, cluster AS cell FROM (
         |    SELECT n.vec_id, n.v, n.nrm, c.cluster,
         |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |        list_sum(list_transform(n.v, x -> x * x))
         |        - 2 * list_sum(list_transform(list_zip(n.v, c.cv),
         |            p -> p[1] * p[2]))
         |        + list_sum(list_transform(c.cv, x -> x * x)),
         |        c.cluster) AS rn
         |    FROM n CROSS JOIN c${KMeansOps.iters} c) t WHERE rn = 1)
         |SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(list_sum(list_transform(list_zip(a.v, b.v),
         |           p -> p[1] * p[2])) / (a.nrm * b.nrm), 4) AS cosine
         |FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |WHERE round(list_sum(list_transform(list_zip(a.v, b.v),
         |    p -> p[1] * p[2])) / (a.nrm * b.nrm), 4) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin))

  /** DECONTAMINATION: flag training documents sharing word 3-grams
    * with a held-out evaluation set (here: the src0 documents) — the
    * benchmark-leakage check an LLM data pipeline runs before
    * training. The eval shingle set is eval-sized (broadcast at any
    * corpus scale); training docs pay one scan-local shingle pass and
    * a semi-join-shaped overlap count, so cost is O(corpus shingles),
    * never corpus × eval. Emits per-source contamination rates and the
    * worst overlap count.
    */
  private val d12 = Q(
    "d12_decontaminate",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      // sh feeds both the eval-shingle derivation and the overlap count;
      // persist so the shingle scan pass runs once
      val sh = shingled(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val evalIds = docs.filter(col("source") === "src0")
        .select("doc_id")
      val evalShingles = sh.join(evalIds, Seq("doc_id"), "left_semi")
        .select("sh").distinct()
      val overlaps = sh
        .join(docs.filter(col("source") =!= "src0"), Seq("doc_id"))
        .join(evalShingles, Seq("sh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contam"))
      docs.filter(col("source") =!= "src0")
        .join(overlaps, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_contam"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_contam") >= 3, 1L).otherwise(0L))
            .as("n_contaminated"),
          max("n_contam").as("max_overlap"))
        .withColumn("contam_rate",
          round(col("n_contaminated").cast("double") / col("n_docs"), 4))
        .orderBy("source")
    },
    Some(s"""WITH $duckShingleRows,
             eval_sh AS (
               SELECT DISTINCT sh FROM ex
               SEMI JOIN (SELECT doc_id FROM documents
                          WHERE source = 'src0') ev
                 USING (doc_id)),
             ov AS (
               SELECT e.doc_id, count(*) AS n_contam
               FROM ex e
               JOIN documents d USING (doc_id)
               SEMI JOIN eval_sh USING (sh)
               WHERE d.source <> 'src0'
               GROUP BY 1)
             SELECT d.source, count(*) AS n_docs,
                    CAST(sum(CASE WHEN coalesce(o.n_contam, 0) >= 3
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
                    CAST(max(coalesce(o.n_contam, 0)) AS BIGINT)
                      AS max_overlap,
                    round(sum(CASE WHEN coalesce(o.n_contam, 0) >= 3
                      THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS contam_rate
             FROM documents d LEFT JOIN ov o USING (doc_id)
             WHERE d.source <> 'src0'
             GROUP BY 1 ORDER BY 1"""))

  /** SimHash within HAMMING DISTANCE ≤ 2 — the real near-dup contract
    * (d5's exact-equality match is its degenerate k=0 case). Candidate
    * generation uses the pigeonhole banding trick: the 16-bit signature
    * splits into 3 bands (5/5/6 bits); any pair within distance 2 has
    * ≥1 band with zero differing bits, so equal-band pairs are a
    * superset of the answer and candidates come from three equi-joins
    * on (band_idx, band_bits) — never an all-pairs XOR. Verify =
    * bit_count(xor) ≤ 2 on candidates only. At 100 TB the shuffle
    * carries (band key, doc) rows; fanout is bounded by band-bucket
    * occupancy exactly like MinHash-LSH banding.
    */
  private val d13 = Q(
    "d13_simhash_hamming",
    (s, dir) => {
      val sig = simhashSigs(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
      // bands: bits [0,5), [5,10), [10,16)
      val bands = sig.select(col("doc_id"), col("simhash"),
        explode(array(
          struct(lit(0).as("band_idx"),
            (col("simhash").bitwiseAND(lit(31L))).as("band_bits")),
          struct(lit(1).as("band_idx"),
            (expr("shiftright(simhash, 5)").bitwiseAND(lit(31L)))
              .as("band_bits")),
          struct(lit(2).as("band_idx"),
            expr("shiftright(simhash, 10)").as("band_bits")))).as("b"))
        .select(col("doc_id"), col("simhash"),
          col("b.band_idx"), col("b.band_bits"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_bits") === col("y.band_bits") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.simhash").as("sig_a"), col("y.simhash").as("sig_b"))
        .distinct()
      cand
        .withColumn("hamming",
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
        .filter(col("hamming") <= 2)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $duckSimhashSigs,
             bands AS (
               SELECT doc_id, simhash, 0 AS band_idx,
                      simhash & 31 AS band_bits FROM sig
               UNION ALL
               SELECT doc_id, simhash, 1, (simhash >> 5) & 31 FROM sig
               UNION ALL
               SELECT doc_id, simhash, 2, simhash >> 10 FROM sig),
             cand AS (
               SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                      x.simhash AS sig_a, y.simhash AS sig_b
               FROM bands x JOIN bands y
                 ON x.band_idx = y.band_idx
                AND x.band_bits = y.band_bits
                AND x.doc_id < y.doc_id)
             SELECT doc_a, doc_b,
                    CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
             FROM cand
             WHERE bit_count(xor(sig_a, sig_b)) <= 2
             ORDER BY doc_a, doc_b"""))

  /** D14 (beyond the reference): BOILERPLATE chunk detection —
    * cross-document duplication at sub-document granularity (headers,
    * footers, licenses, templated spans survive whole-doc dedup but
    * still flood a training corpus). Documents chunk with t8/pl4's
    * exact geometry (40-token windows, stride 30, scan-local typed
    * mapPartitions), each chunk fingerprints with md5, and any
    * fingerprint spanning ≥2 DISTINCT docs is flagged with its doc
    * reach and occurrence count. One scan pass + one
    * fingerprint-keyed map-side-combined aggregate: shuffle carries
    * (fingerprint, partial counts), never text, so cost tracks chunk
    * cardinality at any corpus size.
    */
  private val d14 = Q(
    "d14_boilerplate_chunks",
    (s, dir) => {
      import s.implicits._
      import graft.ops.Corpus
      val chunks = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val toks = text.split(" ").filter(_.nonEmpty)
          Corpus.chunkStarts(toks.length).map { st =>
            val hi = math.min(st + Corpus.chunkSize, toks.length)
            (id, toks.slice(st, hi).mkString(" "))
          }
        }).toDF("doc_id", "chunk")
      chunks.withColumn("fp", md5(col("chunk")))
        .groupBy("fp")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("fp")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS ts
              FROM documents),
            chunks AS (
              SELECT doc_id,
                     md5(array_to_string(list_slice(ts, start_tok + 1,
                       least(start_tok + 40, len(ts))), ' ')) AS fp
              FROM (SELECT doc_id, ts,
                      unnest(range(0, greatest(len(ts), 1), 30))
                        AS start_tok
                    FROM toks))
            SELECT fp, count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occurrences,
                   min(doc_id) AS first_doc
            FROM chunks GROUP BY fp
            HAVING count(DISTINCT doc_id) >= 2
            ORDER BY fp"""))

  /** D15 (X127, beyond the reference): CROSS-SOURCE dedup
    * SURVIVORSHIP with source precedence — the corpus-merge rule when
    * the same document arrives from multiple feeds (curated dump vs
    * web crawl): all copies fingerprint identically, and the KEPT copy
    * is chosen by source priority (lower stratum number = more
    * trusted), tie-broken by doc_id for determinism. One
    * fingerprint-keyed window (shuffle carries fingerprints +
    * survivor metadata, never text), then a per-source rollup of
    * kept/dropped counts — the audit table a corpus merge publishes.
    * Fingerprint = md5 of whitespace-normalized lowercased text (t4's
    * canonical key), so formatting-only variants collapse.
    */
  private val d15 = Q(
    "d15_source_precedence_dedup",
    (s, dir) => {
      val fp = Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          md5(lower(regexp_replace(col("text"), "\\s+", " ")))
            .as("fp"),
          regexp_extract(col("source"), "(\\d+)", 1).cast("int")
            .as("priority"))
      val w = Window.partitionBy("fp")
        .orderBy(col("priority"), col("doc_id"))
      fp.withColumn("rk", row_number().over(w))
        .withColumn("kept", col("rk") === 1)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("source")
    },
    Some("""WITH fp AS (
              SELECT source, doc_id,
                     md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
                       AS fp,
                     CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER)
                       AS priority
              FROM documents),
            rk AS (
              SELECT source,
                     row_number() OVER (PARTITION BY fp
                       ORDER BY priority, doc_id) = 1 AS kept
              FROM fp)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_kept,
                   CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_dropped
            FROM rk GROUP BY source ORDER BY source"""))

  /** D16 (beyond the reference): asymmetric shingle CONTAINMENT —
    * C(a→b) = |A∩B|/|A| ≥ 0.8, the subset/boilerplate detector that
    * Jaccard misses (a short doc embedded in a long one has high
    * containment but low Jaccard). Same shared-shingle equi-join as
    * d3, but direction-preserving (a≠b, both orders), and the
    * threshold is compared in INTEGERS (5·shared ≥ 4·|A|) so the 0.8
    * boundary can't wobble in floating point; the reported ratio is
    * one final IEEE division. Small-set floor |A| ≥ 5 keeps trivial
    * snippets out.
    */
  private val d16 = Q(
    "d16_containment_neardup",
    (s, dir) => {
      val ex = shingled(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val a = ex.select(col("doc_id").as("doc_a"),
        col("nsh").cast("long").as("na"), col("sh"))
      val b = ex.select(col("doc_id").as("doc_b"), col("sh"))
      a.join(b, Seq("sh")).filter(col("doc_a") =!= col("doc_b"))
        .groupBy("doc_a", "doc_b", "na")
        .agg(count(lit(1)).as("shared"))
        .filter(col("na") >= 5 &&
          col("shared") * 5 >= col("na") * 4)
        .select(col("doc_a"), col("doc_b"), col("na"), col("shared"),
          (col("shared").cast("double") / col("na").cast("double"))
            .as("containment"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $duckShingleRows
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    CAST(a.nsh AS BIGINT) AS na,
                    CAST(count(*) AS BIGINT) AS shared,
                    CAST(count(*) AS DOUBLE) / CAST(a.nsh AS DOUBLE)
                      AS containment
             FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
             GROUP BY a.doc_id, b.doc_id, a.nsh
             HAVING a.nsh >= 5 AND count(*) * 5 >= a.nsh * 4
             ORDER BY 1, 2"""))

  /** D17 (beyond the reference): cross-source duplicate matrix — for
    * every source pair, how many distinct LEADING fingerprints (md5 of
    * the first 4 tokens — the shared-boilerplate/head-template signal;
    * full-text md5 finds zero cross-source overlap in this corpus)
    * they share. The provenance audit that tells you WHICH feeds
    * mirror each other (and therefore which precedence rules like
    * d15's matter). One md5 per doc, distinct (fp, source), a
    * self-join on fp (bounded by per-fingerprint source fan-out,
    * ≤ #sources), integer counts only.
    */
  private val d17 = Q(
    "d17_cross_source_dups",
    (s, dir) => {
      val fps = Tables.load(s, dir, "documents")
        .select(expr("md5(array_join(slice(filter(split(text, ' '), " +
          "x -> x != ''), 1, 4), ' '))").as("fp"), col("source"))
        .distinct()
      fps.as("a").join(fps.as("b"), Seq("fp"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared_fps"))
        .orderBy("source_a", "source_b")
    },
    Some("""WITH fps AS (
              SELECT DISTINCT md5(array_to_string(
                       list_filter(string_split(text, ' '),
                         x -> x <> '')[1:4], ' ')) AS fp, source
              FROM documents)
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS n_shared_fps
            FROM fps a JOIN fps b
              ON a.fp = b.fp AND a.source < b.source
            GROUP BY 1, 2
            ORDER BY 1, 2"""))

  /** D18 (X199, beyond the reference): SORTED-NEIGHBORHOOD blocking —
    * the third near-dup candidate-generation family next to the
    * inverted index (d3) and LSH banding (d4): sort every document by a
    * deterministic key (its lexicographically-minimum shingle — the
    * k=1 MinHash, so near-identical docs almost surely share it), and
    * verify exact Jaccard ONLY for pairs within a ±4 window of the
    * sort order. Candidate count is exactly n·w — data-independent,
    * unlike d3's shared-shingle fan-out or d4's bucket collisions —
    * which is why SNM is the standard choice when a corpus has a few
    * monster near-dup cliques that blow up the other two.
    *
    * Scale shape: the sort is one range-exchange (Spark's global sort);
    * the ±4 adjacency is NOT a nested-loop inequality join but an
    * exploded offset equi-join (each doc emits its 4 successor ranks →
    * shuffle on rank), so the plan stays equi-keyed end-to-end; the
    * Jaccard verify joins the exploded shingle index only against the
    * n·4 candidate pairs.
    */
  private val d18 = Q(
    "d18_sorted_neighborhood",
    (s, dir) => {
      val ex = shingled(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val keys = ex.groupBy("doc_id")
        .agg(min("sh").as("skey"), max("nsh").as("nsh"))
      val wr = Window.orderBy("skey", "doc_id")
      val ranked = keys.withColumn("rn", row_number().over(wr))
      val targets = ranked.select(col("doc_id").as("doc_a"),
          col("nsh").as("na"), col("rn"),
          explode(array((1 to 4).map(o => col("rn") + o): _*)).as("rn_b"))
      val cand = targets.join(
          ranked.select(col("doc_id").as("doc_b"), col("nsh").as("nb"),
            col("rn").as("rn_b")),
          Seq("rn_b"))
        .select(col("doc_a"), col("doc_b"),
          (col("rn_b") - col("rn")).cast("long").as("rank_gap"),
          col("na"), col("nb"))
      cand
        .join(ex.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
        .join(ex.select(col("doc_id").as("doc_b"), col("sh")),
          Seq("doc_b", "sh"))
        .groupBy("doc_a", "doc_b", "rank_gap", "na", "nb")
        .agg(count(lit(1)).as("shared"))
        .withColumn("jaccard", round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4))
        .filter(col("jaccard") >= 0.5)
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"),
          col("rank_gap"), col("shared"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $duckShingleRows,
             dockeys AS (
               SELECT doc_id, max(nsh) AS nsh, min(sh) AS skey
               FROM ex GROUP BY 1),
             ranked AS (
               SELECT doc_id, nsh,
                      row_number() OVER (ORDER BY skey, doc_id) AS rn
               FROM dockeys),
             cand AS (
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
                      a.nsh AS na, b.nsh AS nb
               FROM ranked a
               JOIN (SELECT unnest([1, 2, 3, 4]) AS o) offs ON true
               JOIN ranked b ON b.rn = a.rn + o),
             verified AS (
               SELECT c.doc_a, c.doc_b, c.rank_gap, c.na, c.nb,
                      count(*) AS shared
               FROM cand c
               JOIN ex ea ON ea.doc_id = c.doc_a
               JOIN ex eb ON eb.doc_id = c.doc_b AND eb.sh = ea.sh
               GROUP BY 1, 2, 3, 4, 5)
             SELECT least(doc_a, doc_b) AS doc_a,
                    greatest(doc_a, doc_b) AS doc_b,
                    rank_gap, shared,
                    round(shared * 1.0 / (na + nb - shared), 4) AS jaccard
             FROM verified
             WHERE round(shared * 1.0 / (na + nb - shared), 4) >= 0.5
             ORDER BY 1, 2"""))

  /** X215 d19: WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, the
    * MOSS algorithm) — the fourth candidate-generation family, and the
    * one with a POSITIONAL guarantee the others lack: any shared run
    * of ≥ w+k−1 tokens (here 6) is detected with certainty, because
    * every length-w window of k-gram hashes contributes its minimum.
    * Hashes are md5 hex compared lexicographically (the repo's
    * order-isomorphic device), the window-min selection runs
    * task-locally in one mapPartitions pass (same cost envelope as the
    * MinHash signature build: embarrassingly parallel, ~|doc| work,
    * no shuffle), and only the selected fingerprints — a provably
    * 2/(w+1)-density subset — reach the candidate equi-join. Pairs
    * sharing ≥2 fingerprints report winnow-containment
    * shared/min(nfp), the MOSS report statistic.
    */
  private val d19 = Q(
    "d19_winnowing",
    (s, dir) => {
      import s.implicits._
      val ex = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          val md5 = graft.ops.Hashing.newMd5()
          it.flatMap { case (id, text) =>
            val hs = shingles3(text).map(md5.hex).toArray
            if (hs.isEmpty) Iterator.empty
            else {
              val fps: Set[String] =
                if (hs.length <= 4) Set(hs.min)
                else (0 to hs.length - 4).map { i =>
                  var m = hs(i)
                  var j = i + 1
                  while (j < i + 4) {
                    if (hs(j) < m) m = hs(j); j += 1
                  }
                  m
                }.toSet
              val n = fps.size
              fps.iterator.map(fp => ShingleRow(id, n, fp))
            }
          }
        }
        .toDF()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val a = ex.select(col("doc_id").as("doc_a"), col("nsh").as("nfp_a"),
        col("sh").as("fp"))
      val b = ex.select(col("doc_id").as("doc_b"), col("nsh").as("nfp_b"),
        col("sh").as("fp"))
      a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b", "nfp_a", "nfp_b")
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
        .withColumn("containment", round(col("shared").cast("double")
          / least(col("nfp_a"), col("nfp_b")), 4))
        .select("doc_a", "doc_b", "nfp_a", "nfp_b", "shared", "containment")
        .orderBy("doc_a", "doc_b")
    },
    Some("""WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS tk
              FROM documents),
            g AS (
              SELECT doc_id,
                     list_transform(range(0, len(tk) - 2),
                       j -> md5(tk[j+1] || ' ' || tk[j+2] || ' ' || tk[j+3]))
                       AS hs
              FROM t WHERE len(tk) >= 3),
            f AS (
              SELECT doc_id,
                     CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
                          ELSE list_distinct(list_transform(
                            range(0, len(hs) - 3),
                            i -> list_min(hs[i+1:i+4]))) END AS fps
              FROM g),
            ex AS (
              SELECT doc_id, len(fps) AS nfp, unnest(fps) AS fp FROM f)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.nfp AS nfp_a, b.nfp AS nfp_b,
                   CAST(count(*) AS BIGINT) AS shared,
                   round(count(*) * 1.0 / least(a.nfp, b.nfp), 4)
                     AS containment
            FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
            HAVING count(*) >= 2
            ORDER BY 1, 2"""))

  /** Near-duplicate truth pairs (doc_a < doc_b) under the exact
    * integer Jaccard ≥ ½ gate 2·shared ≥ |A|+|B|−shared, over the
    * [[shingled]] rows `ex`, keeping only pairs whose doc_a passes
    * `anchor`.
    */
  private[queries] def jaccardHalfPairs(ex: DataFrame,
      anchor: Column => Column): DataFrame = {
    val a = ex.filter(anchor(col("doc_id")))
      .select(col("doc_id").as("doc_a"), col("nsh").as("na"), col("sh"))
    val b = ex.select(col("doc_id").as("doc_b"), col("nsh").as("nb"),
      col("sh"))
    a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("shared"))
      .filter(lit(2L) * col("shared")
        >= col("na") + col("nb") - col("shared"))
      .select("doc_a", "doc_b")
  }

  /** DuckDB's [[jaccardHalfPairs]] over the CTE `ex` (doc_id, nsh, sh),
    * `anchored(docIdColumn)` the anchor predicate.
    */
  private[queries] def duckJaccardHalfPairs(anchored: String => String): String =
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  WHERE ${anchored("a.doc_id")}
       |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
       |  HAVING 2 * count(*) >= a.nsh + b.nsh - count(*)""".stripMargin

  /** The band configs d20 and d27 score: (name, bands, rows). */
  private val lshCfgs = Seq(("b8r1", 8, 1), ("b4r2", 4, 2), ("b2r4", 2, 4),
    ("b1r8", 1, 8))

  /** The LSH band-tuning table d20 and d27 share, one row per config:
    * cfg, n_candidates, n_true, n_caught, recall, precision, counting
    * only the truth and candidate pairs whose smaller id passes
    * `anchor`. Signatures and the truth set are each built once and
    * reused by all four configs.
    */
  private def lshTuning(s: SparkSession, dir: String,
      anchor: Column => Column): DataFrame = {
    val sig = minhashSigs(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val ex = shingled(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val truth = jaccardHalfPairs(ex, anchor)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val truthTotal = truth.agg(count(lit(1)).as("n_true"))
    // Round-17 opt: ONE banded pipeline for all four configs (cfg
    // rides the band key) instead of four separate explode→self-join→
    // distinct→2-agg branches, and the per-config candidate/caught
    // pair comes from one LEFT join against the (unique-keyed) truth
    // set + a single grouped aggregate — same counts, same rows
    // (oracle-pinned), ~4x fewer stages on the config side. The
    // cfg-list left join keeps a zero-candidate config's row alive
    // with the original (0, 0, NULL precision) semantics.
    import s.implicits._
    val bands = sig.select(col("doc_id"), explode(array(
      lshCfgs.flatMap { case (cfg, nb, r) =>
        (0 until nb).map { j =>
          val key = md5(concat(
            (0 until r).map(i => col(s"mh${j * r + i}")): _*))
          struct(lit(cfg).as("cfg"), lit(j).as("bi"), key.as("bk"))
        }
      }: _*)).as("bd"))
      .select(col("doc_id"), col("bd.cfg").as("cfg"),
        col("bd.bi").as("bi"), col("bd.bk").as("bk"))
    val cand = bands.filter(anchor(col("doc_id"))).as("x")
      .join(bands.as("y"),
        col("x.cfg") === col("y.cfg") && col("x.bi") === col("y.bi") &&
          col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.cfg").as("cfg"), col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .distinct()
    val perCfg = cand
      .join(truth.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"),
        "left")
      .groupBy("cfg")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
    lshCfgs.map(_._1).toDF("cfg")
      .join(perCfg, Seq("cfg"), "left")
      .na.fill(0L, Seq("n_candidates", "n_caught"))
      .crossJoin(truthTotal)
      .select(col("cfg"), col("n_candidates"),
        col("n_true"), col("n_caught"),
        when(col("n_true") > 0L,
          col("n_caught").cast("double")
            / col("n_true").cast("double")).as("recall"),
        when(col("n_candidates") > 0L,
          col("n_caught").cast("double")
            / col("n_candidates").cast("double")).as("precision"))
  }

  /** DuckDB's [[lshTuning]] as the CTE `tuning`: `anchorCtes` add any
    * CTE the predicate `anchored(docIdColumn)` reads.
    */
  private def duckLshTuning(anchorCtes: String,
      anchored: String => String): String = {
    val bandSql = (nb: Int, r: Int) =>
      (0 until nb).map { j =>
        val key = (0 until r).map(i => s"mh${j * r + i}").mkString(" || ")
        s"SELECT doc_id, $j AS bi, md5($key) AS bk FROM sigs"
      }.mkString(" UNION ALL ")
    val candSql = (cfg: String) =>
      s"""c_$cfg AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM b_$cfg x JOIN b_$cfg y
         |    ON x.bi = y.bi AND x.bk = y.bk AND x.doc_id < y.doc_id
         |  WHERE ${anchored("x.doc_id")})""".stripMargin
    val rowSql = (cfg: String) =>
      s"""SELECT '$cfg' AS cfg,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c_$cfg) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c_$cfg c
         |   JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
         |    AS n_caught,
         |  CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
         |    (SELECT CAST(count(*) AS DOUBLE) FROM c_$cfg c
         |     JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
         |    / (SELECT CAST(count(*) AS DOUBLE) FROM truth) END
         |    AS recall,
         |  CASE WHEN (SELECT count(*) FROM c_$cfg) > 0 THEN
         |    (SELECT CAST(count(*) AS DOUBLE) FROM c_$cfg c
         |     JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
         |    / (SELECT CAST(count(*) AS DOUBLE) FROM c_$cfg) END
         |    AS precision""".stripMargin
    s"""WITH $duckShingleRows,
       |sigs AS (
       |  SELECT doc_id,
       |    ${(0 until 8).map(i =>
             s"min(md5(sh || '|$i')) AS mh$i").mkString(", ")}
       |  FROM ex GROUP BY 1),
       |$anchorCtes
       |truth AS (
       |  ${duckJaccardHalfPairs(anchored)}),
       |${lshCfgs.map { case (c, nb, r) =>
           s"b_$c AS (${bandSql(nb, r)})" }.mkString(",\n")},
       |${lshCfgs.map { case (c, _, _) => candSql(c) }.mkString(",\n")},
       |tuning AS (
       |${lshCfgs.map { case (c, _, _) => rowSql(c) }
           .mkString("\nUNION ALL\n")})
       |""".stripMargin
  }

  /** X225 d20: LSH BAND-TUNING sweep — the s-curve engineering table
    * behind every MinHash deployment: the same 8-hash signatures banded
    * four ways (8 bands×1 row … 1 band×8 rows), each config scored for
    * candidate volume, recall and precision against the EXACT
    * Jaccard≥½ truth set (integer 2·shared ≥ |A|+|B|−shared gate).
    * Wide bands (r=1) catch everything but flood the verifier; narrow
    * bands (r=8) are cheap but miss — the row MEASURES the tradeoff a
    * 100 TB operator must pick, on the same data, in one query.
    * Candidate generation stays equi-join-on-band-key (the d4 plan)
    * for every config.
    */
  private val d20 = Q(
    "d20_lsh_tuning",
    (s, dir) => lshTuning(s, dir, _ => lit(true))
      .select(col("cfg"), col("n_candidates"),
        col("n_true").as("n_true_total"), col("n_caught"), col("recall"),
        col("precision"))
      .orderBy("cfg"),
    Some(duckLshTuning("", _ => "TRUE") +
      """SELECT cfg, n_candidates, n_true AS n_true_total, n_caught,
        |       recall, precision
        |FROM tuning ORDER BY cfg""".stripMargin))

  /** X242 d21: MEDOID canonicalization — pick each near-dup cluster's
    * canonical document by CENTRALITY (the member most similar to its
    * peers) where d10 picks by source-precedence POLICY; dedup systems
    * offer both because the medoid preserves the "most representative"
    * text while policy preserves provenance. The objective is kept in
    * EXACT INTEGERS: score(a) = Σ_b shared(a,b) over cluster peers,
    * computed WITHOUT any pairwise join — per (cluster, shingle) count
    * occurrences c, then each member's score is Σ over its shingles of
    * (c − 1); that equals the pairwise sum by counting each shared
    * (a,b,sh) instance once from each side. A float Jaccard sum would
    * be order-hazardous; the shared-count objective is hash-exact.
    * Scale: one (cluster, sh) aggregate + a join back — cost tracks
    * the CLUSTERED docs' shingles only, never all-pairs; argmax per
    * cluster under the (score desc, doc_id) total order.
    */
  private val d21 = Q(
    "d21_medoid_canonical",
    (s, dir) => {
      val labels = ccLabels(s, dir)
      val ex = shingled(s, dir).select("doc_id", "sh")
      val clustered = ex.join(labels, "doc_id")
      val shCounts = clustered.groupBy("cluster", "sh")
        .agg(count(lit(1)).as("c"))
      val scores = clustered.join(shCounts, Seq("cluster", "sh"))
        .groupBy("cluster", "doc_id")
        .agg(sum(col("c") - lit(1L)).as("score"))
      val w = Window.partitionBy("cluster")
        .orderBy(col("score").desc, col("doc_id"))
      scores
        .withColumn("rn", row_number().over(w))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_docs"),
          min(when(col("rn") === 1, col("doc_id"))).as("medoid_doc"),
          min(when(col("rn") === 1, col("score"))).as("medoid_score"),
          sum("score").as("total_shared"))
        .filter(col("n_docs") >= 2)
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE $duckLshPairCtes,
             cedges AS (
               SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION ALL
               SELECT doc_b, doc_a FROM pairs),
             reach(src, dst) AS (
               SELECT DISTINCT src, src FROM cedges
               UNION
               SELECT r.src, e.dst FROM reach r
               JOIN cedges e ON r.dst = e.src),
             comp AS (
               SELECT src AS doc_id, min(dst) AS cluster
               FROM reach GROUP BY 1),
             cl AS (
               SELECT e.doc_id, e.sh, c.cluster
               FROM ex e JOIN comp c USING (doc_id)),
             shc AS (
               SELECT cluster, sh, count(*) AS c
               FROM cl GROUP BY 1, 2),
             scores AS (
               SELECT cl.cluster, cl.doc_id,
                      CAST(sum(shc.c - 1) AS BIGINT) AS score
               FROM cl JOIN shc ON cl.cluster = shc.cluster
                 AND cl.sh = shc.sh
               GROUP BY 1, 2),
             ranked AS (
               SELECT cluster, doc_id, score,
                      row_number() OVER (PARTITION BY cluster
                        ORDER BY score DESC, doc_id) AS rn
               FROM scores)
             SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs,
                    min(CASE WHEN rn = 1 THEN doc_id END) AS medoid_doc,
                    min(CASE WHEN rn = 1 THEN score END) AS medoid_score,
                    CAST(sum(score) AS BIGINT) AS total_shared
             FROM ranked
             GROUP BY cluster HAVING count(*) >= 2
             ORDER BY cluster"""))

  /** X262 d22: DUP-CLUSTER SIZE DISTRIBUTION — the one-line shape
    * report a dedup run ships (are duplicates isolated pairs, or is
    * there a monster template cluster eating the corpus?): the d9
    * component labels rolled into a per-size histogram plus the docs
    * REMOVED at each size (size − 1 survivors-policy cost) — the two
    * numbers that turn a dedup pass into a capacity decision. All
    * exact integers; the histogram is cluster-count-sized. Scale: the
    * only data-sized work is the CC labeling it reuses; the rollup is
    * two tiny aggregates.
    */
  private val d22 = Q(
    "d22_cluster_size_histogram",
    (s, dir) => {
      val labels = ccLabels(s, dir)
      labels.groupBy("cluster")
        .agg(count(lit(1)).as("size"))
        .groupBy("size")
        .agg(count(lit(1)).as("n_clusters"),
          sum("size").as("n_docs"),
          sum(col("size") - lit(1L)).as("n_removed"))
        .orderBy("size")
    },
    Some(s"""WITH RECURSIVE $duckLshPairCtes,
             hedges AS (
               SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION ALL
               SELECT doc_b, doc_a FROM pairs),
             reach(src, dst) AS (
               SELECT DISTINCT src, src FROM hedges
               UNION
               SELECT r.src, e.dst FROM reach r
               JOIN hedges e ON r.dst = e.src),
             comp AS (
               SELECT src AS doc_id, min(dst) AS cluster
               FROM reach GROUP BY 1),
             sizes AS (
               SELECT cluster, CAST(count(*) AS BIGINT) AS size
               FROM comp GROUP BY 1)
             SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
                    CAST(sum(size) AS BIGINT) AS n_docs,
                    CAST(sum(size - 1) AS BIGINT) AS n_removed
             FROM sizes GROUP BY size ORDER BY size"""))

  /** d23's and d28's verdicts on batch×corpus candidate pairs `cand`
    * (bdoc, cdoc): `pairs` are the pairs exact-verified at Jaccard ≥ ½
    * against shingle sets read for candidate docs only (the d4
    * posture); per batch doc, `agg` holds the verified count and best
    * Jaccard (abdoc, n_dups, best_jaccard) and `best` the best match
    * (bdoc2, best_match, ties to the smallest corpus doc_id).
    */
  private case class BatchVerdicts(pairs: DataFrame, agg: DataFrame,
      best: DataFrame)

  private def batchVerdicts(s: SparkSession, dir: String,
      cand: DataFrame): BatchVerdicts = {
    val candDocs = cand
      .select(explode(array(col("bdoc"), col("cdoc"))).as("doc_id"))
      .distinct()
    val candSets = shingleSets(s, dir)
      .join(candDocs, Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = candSets.select(col("doc_id").as("bdoc"),
      col("nsh").as("na"), col("shs").as("shs_a"))
    val b = candSets.select(col("doc_id").as("cdoc"),
      col("nsh").as("nb"), col("shs").as("shs_b"))
    val pairs = cand.join(a, Seq("bdoc")).join(b, Seq("cdoc"))
      .withColumn("shared",
        size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", round(col("shared").cast("double")
        / (col("na") + col("nb") - col("shared")), 4))
      .filter(col("jaccard") >= 0.5)
      .select("bdoc", "cdoc", "jaccard")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val agg = pairs.groupBy(col("bdoc").as("abdoc"))
      .agg(count(lit(1)).as("n_dups"), max("jaccard").as("best_jaccard"))
    val best = pairs.join(agg,
        col("bdoc") === col("abdoc") &&
          col("jaccard") === col("best_jaccard"))
      .groupBy(col("bdoc").as("bdoc2"))
      .agg(min("cdoc").as("best_match"))
    BatchVerdicts(pairs, agg, best)
  }

  /** DuckDB's band candidates of batch (doc_id % 3 = 0) × corpus and
    * [[batchVerdicts]], as the CTEs cand, pairs, agg and best.
    */
  private val duckBatchVerdictCtes =
    s"""$duckLshBaseCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS bdoc, y.doc_id AS cdoc
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       |  WHERE x.doc_id % 3 = 0 AND y.doc_id % 3 <> 0),
       |stats AS (
       |  SELECT a.doc_id AS bdoc, b.doc_id AS cdoc,
       |         a.nsh AS na, b.nsh AS nb, count(*) AS shared
       |  FROM ex a JOIN ex b ON a.sh = b.sh
       |  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
       |  GROUP BY 1, 2, 3, 4),
       |pairs AS (
       |  SELECT c.bdoc, c.cdoc,
       |         round(shared * 1.0 / (na + nb - shared), 4) AS jaccard
       |  FROM cand c JOIN stats st
       |    ON c.bdoc = st.bdoc AND c.cdoc = st.cdoc
       |  WHERE round(shared * 1.0 / (na + nb - shared), 4) >= 0.5),
       |agg AS (
       |  SELECT bdoc, CAST(count(*) AS BIGINT) AS n_dups,
       |         max(jaccard) AS best_jaccard
       |  FROM pairs GROUP BY 1),
       |best AS (
       |  SELECT p.bdoc, min(p.cdoc) AS best_match
       |  FROM pairs p JOIN agg g
       |    ON p.bdoc = g.bdoc AND p.jaccard = g.best_jaccard
       |  GROUP BY 1)""".stripMargin

  /** X307 d23: INCREMENTAL DEDUP — the nightly-ingest posture every
    * production corpus actually runs: a NEW BATCH (doc_id % 3 = 0)
    * arrives against an already-indexed CORPUS (the rest), and the
    * only near-dup question asked is batch×corpus. Candidates come
    * from band collisions BETWEEN sides only — no batch×batch pairs
    * (intra-batch dups are d4's separate job) and, critically, no
    * corpus×corpus re-verification: at 100 TB the corpus signatures
    * are a stored index written once at ingest (rebuilt here from the
    * same parquet only because the proof needs both engines to derive
    * them), so per-night work is O(batch) signature build + band
    * equi-join against the index + exact verify on candidates. Emits
    * the admission decision per batch doc: verified match count, best
    * match (highest Jaccard, ties to the smallest corpus doc_id), and
    * the admit bit the downstream writer consumes.
    */
  private val d23 = Q(
    "d23_incremental_dedup",
    (s, dir) => {
      val bands = bandsOf(
        minhashSigs(s, dir).persist(StorageLevel.MEMORY_AND_DISK))
      val isBatch = col("doc_id") % 3 === 0
      val cand = bands.filter(isBatch).as("x")
        .join(bands.filter(!isBatch).as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_key") === col("y.band_key"))
        .select(col("x.doc_id").as("bdoc"), col("y.doc_id").as("cdoc"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val v = batchVerdicts(s, dir, cand)
      Tables.load(s, dir, "documents").filter(isBatch).select("doc_id")
        .join(v.agg, col("doc_id") === col("abdoc"), "left")
        .join(v.best, col("doc_id") === col("bdoc2"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          col("best_match"), col("best_jaccard"),
          col("n_dups").isNull.cast("int").as("admit"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $duckBatchVerdictCtes
             |SELECT d.doc_id, coalesce(g.n_dups, 0) AS n_dups,
             |       b.best_match, g.best_jaccard,
             |       CAST(g.n_dups IS NULL AS INT) AS admit
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
             |LEFT JOIN agg g ON d.doc_id = g.bdoc
             |LEFT JOIN best b ON d.doc_id = b.bdoc
             |ORDER BY d.doc_id""".stripMargin))

  /** X310 d24: SUBSTRING-LEVEL exact dedup — the Lee-et-al
    * "duplicate spans ≥ k tokens" operator (ExactSubstr,
    * "Deduplicating Training Data Makes Language Models Better"):
    * remove from each document every span of ≥ 20 tokens that also
    * appears in an EARLIER document, keeping the first-document copy.
    * Doc-level fingerprints (d2) and aligned boilerplate chunks (d14,
    * `DedupQueries.scala` chunk geometry) both miss spans repeated at
    * arbitrary offsets inside otherwise-unique documents — this is the
    * operator that catches them.
    *
    * Plan (all fingerprint-keyed — TEXT never shuffles):
    *   1. scan-local kernel emits every positional 20-token window as
    *      (doc_id, pos, md5) — one pass, O(tokens) windows;
    *   2. one md5-keyed aggregate finds each window's MINIMUM doc_id
    *      (the canonical copy);
    *   3. windows whose doc_id > min_doc are drop-marked (first
    *      occurrence survives, so the corpus keeps the content once);
    *   4. per-doc run-merge: sorted drop positions expand to covered
    *      token intervals [p, p+19] and merge into MAXIMAL spans in a
    *      single linear kernel pass that also rebuilds the cleaned
    *      document.
    * 100 TB: steps 1+4 are scan-local; the only shuffles are the
    * fingerprint aggregate and the fingerprint join — both sized by
    * window COUNT (≈ token count), never corpus², and the per-doc
    * drop-position state is bounded by document length. Cost tracks
    * duplicated-span volume (the join output), which the `substr`
    * ScaleProbe measures directly. Production note: the 128-bit md5 is
    * deliberate — a 64-bit hash collides at corpus scale (~2³² windows)
    * and a false positive here DELETES text.
    */
  private val d24 = Q(
    "d24_substring_dedup",
    (s, dir) => {
      import s.implicits._
      val K = 20
      val wins = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val toks = text.split(" ").filter(_.nonEmpty)
          (0 to toks.length - K).iterator.map { p =>
            (id, p, toks.slice(p, p + K).mkString(" "))
          }
        }).toDF("doc_id", "pos", "win")
        .select(col("doc_id"), col("pos"), md5(col("win")).as("fp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val mins = wins.groupBy("fp").agg(min("doc_id").as("min_doc"))
      val drops = wins.join(mins, Seq("fp"))
        .filter(col("doc_id") > col("min_doc"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("pos"))).as("drops"))
      Tables.load(s, dir, "documents").select("doc_id", "text")
        .join(drops, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"),
          coalesce(col("drops"), typedLit(Seq.empty[Int])).as("drops"))
        .as[(Long, String, Seq[Int])]
        .mapPartitions(_.map { case (id, text, dropPos) =>
          val toks = text.split(" ").filter(_.nonEmpty)
          val covered = new Array[Boolean](toks.length)
          dropPos.foreach { p =>
            var i = p
            val hi = math.min(p + K, toks.length)
            while (i < hi) { covered(i) = true; i += 1 }
          }
          var removed = 0L
          var spans = 0L
          var i = 0
          val kept = new StringBuilder
          while (i < toks.length) {
            if (covered(i)) {
              removed += 1
              if (i == 0 || !covered(i - 1)) spans += 1
            } else {
              if (kept.nonEmpty) kept.append(' ')
              kept.append(toks(i))
            }
            i += 1
          }
          (id, toks.length.toLong, removed, spans, kept.toString)
        })
        .toDF("doc_id", "n_tokens", "n_removed", "n_spans", "cleaned")
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("n_spans"), md5(col("cleaned")).as("cleaned_fp"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS ts
              FROM documents),
            wins AS (
              SELECT doc_id, ts,
                     unnest(range(0, greatest(len(ts) - 19, 0))) AS pos
              FROM toks),
            fps AS (
              SELECT doc_id, pos,
                     md5(array_to_string(
                       list_slice(ts, pos + 1, pos + 20), ' ')) AS fp
              FROM wins),
            mins AS (SELECT fp, min(doc_id) AS min_doc FROM fps GROUP BY fp),
            drops AS (
              SELECT f.doc_id, f.pos
              FROM fps f JOIN mins m
                ON f.fp = m.fp AND f.doc_id > m.min_doc),
            offs AS (
              SELECT doc_id, pos, unnest(range(0, 20)) AS off FROM drops),
            covered AS (SELECT DISTINCT doc_id, pos + off AS tok FROM offs),
            spans AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
              FROM (SELECT doc_id, tok,
                           lag(tok) OVER (PARTITION BY doc_id
                                          ORDER BY tok) AS prev
                    FROM covered)
              WHERE prev IS NULL OR tok - prev > 1
              GROUP BY doc_id),
            tokrows AS (
              SELECT doc_id, ts, unnest(range(0, len(ts))) AS j FROM toks),
            kept AS (
              SELECT t.doc_id,
                     coalesce(string_agg(ts[j + 1], ' ' ORDER BY j)
                       FILTER (WHERE c.tok IS NULL), '') AS cleaned,
                     CAST(count(*) FILTER (WHERE c.tok IS NOT NULL)
                       AS BIGINT) AS n_removed
              FROM tokrows t LEFT JOIN covered c
                ON t.doc_id = c.doc_id AND t.j = c.tok
              GROUP BY t.doc_id)
            SELECT t0.doc_id, CAST(len(t0.ts) AS BIGINT) AS n_tokens,
                   coalesce(k.n_removed, 0) AS n_removed,
                   coalesce(s.n_spans, 0) AS n_spans,
                   md5(coalesce(k.cleaned, '')) AS cleaned_fp
            FROM toks t0
            LEFT JOIN kept k ON t0.doc_id = k.doc_id
            LEFT JOIN spans s ON t0.doc_id = s.doc_id
            ORDER BY t0.doc_id"""))

  /** X316 d25: NEAR-DUP TOP-K SUMMARY — the bounded-output reporting
    * posture for d3's exact Jaccard enumeration. d3 faithfully emits
    * the FULL pair list, so its output (and the sf1-measured cost of
    * sorting/writing it) grows ~replica² with true duplication; at
    * 100 TB a data lead wants the d23/s13 shape instead: per document,
    * HOW MANY near-dups it has and its top-k best matches — output
    * bounded at k rows per doc at ANY duplication rate.
    *
    * Same inverted-index verify as d3 (shared-shingle equi-join → one
    * pair-keyed aggregate; only pairs sharing ≥1 shingle ever exist),
    * but the VERIFY itself is bounded, not just the output: the
    * reported-doc side of the join is the deterministic fixed-budget
    * anchor sample ([[graft.ops.Anchors]], A = 2000 — the d27/pl15
    * device), so the quadratic shared-shingle intermediate shrinks by
    * ~A/n (sf1 measured: 189.7 s full-verify → anchored re-measure in
    * SURVEY §8) while every ANCHORED doc still sees its EXACT full
    * partner set, n_matches, and top-3 (the join's right side stays
    * the whole corpus). Corpora with n ≤ A anchor every doc and the
    * output equals the unsampled summary — DedupTopkSpec proves that
    * equality and that the sample engages past the budget. The
    * summary head is the d23/s13 posture: n_matches is a plain
    * count, and the top-3 runs through the k-bounded
    * [[graft.functions.TopKAggregator]] — map-side partials carry ≤k
    * rows per doc per task through the shuffle and the global sort of
    * the whole pair list disappears, so everything downstream of the
    * pair verify is O(k·anchors) instead of O(pairs). Ordering
    * is the aggregator's engine-neutral total order (jaccard DESC,
    * partner ASC), which the oracle's row_number replays exactly.
    */
  private val d25 = anchoredTop3("d25_neardup_topk",
    "n_matches", "match_id", "jaccard",
    (ex, anchoredEx) => {
      val a = anchoredEx
        .select(col("doc_id").as("doc_a"), col("nsh").as("na"), col("sh"))
      val b = ex.select(col("doc_id").as("doc_b"), col("nsh").as("nb"), col("sh"))
      a.join(b, Seq("sh")).filter(col("doc_a") =!= col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(count(lit(1)).as("shared"))
        .withColumn("jaccard", round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    },
    """round(count(*) * 1.0
                   / (a.nsh + b.nsh - count(*)), 4) AS jaccard""",
    """GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
          HAVING round(count(*) * 1.0
                   / (a.nsh + b.nsh - count(*)), 4) >= 0.5""")

  /** X317 d26: CONTAINMENT TOP-K SUMMARY — the same bounded-output
    * posture for d16's asymmetric containment enumeration (the other
    * exact row the sf1 run measured output-bound: 452 s at 10×, all of
    * it true pair volume). Per ANCHORED document ([[graft.ops.Anchors]]
    * budget A = 2000, the same bounded-verify device as d25): how many
    * docs CONTAIN it (C(a→b) = |A∩B|/|A| ≥ 0.8, the d16 integer-
    * compared threshold and |A| ≥ 5 floor unchanged) and the top-3
    * containers by containment DESC, container ASC through the
    * k-bounded aggregator — ≤3 output rows per anchored doc where d16
    * emits every (contained, container) pair, with the shared-shingle
    * verify join itself shrunk to ~A/n of the all-pairs volume (the
    * contained side is anchored; the container side stays the whole
    * corpus, so each anchored doc's n_containers/top-3 are EXACT).
    * Equals the unsampled summary when n ≤ A (DedupTopkSpec).
    */
  private val d26 = anchoredTop3("d26_containment_topk",
    "n_containers", "container_id", "containment",
    (ex, anchoredEx) => {
      // Containment's own denominator |A|: only the contained side's
      // size enters the score.
      val a = anchoredEx.select(col("doc_id").as("doc_a"),
        col("nsh").cast("long").as("na"), col("sh"))
      val b = ex.select(col("doc_id").as("doc_b"), col("sh"))
      a.join(b, Seq("sh")).filter(col("doc_a") =!= col("doc_b"))
        .groupBy("doc_a", "doc_b", "na")
        .agg(count(lit(1)).as("shared"))
        .filter(col("na") >= 5 && col("shared") * 5 >= col("na") * 4)
        .select(col("doc_a"), col("doc_b"),
          (col("shared").cast("double") / col("na").cast("double"))
            .as("containment"))
    },
    """CAST(count(*) AS DOUBLE) / CAST(a.nsh AS DOUBLE)
                   AS containment""",
    """GROUP BY a.doc_id, b.doc_id, a.nsh
          HAVING a.nsh >= 5 AND count(*) * 5 >= a.nsh * 4""")

  /** The anchored top-3 summary of d25 and d26. The reported doc_a side
    * is the [[graft.ops.Anchors]] sample of the persisted shingle rows,
    * the side reported AGAINST stays the full corpus: join volume is A/n
    * of the all-pairs verify, and the directional aggregate is exact per
    * anchored doc. `pairs(ex, anchoredEx)` scores (doc_a, doc_b, <score>)
    * pairs; per anchored doc the row reports the pair count `nCol` and
    * the top 3 partners `idCol` by score DESC, partner ASC — the
    * TopKAggregator's engine-neutral total order, which the oracle's
    * row_number replays. The oracle's pairs CTE selects `duckScore` from
    * the shared-shingle join of anchored `a` and full `b`, then applies
    * `duckGroup` (GROUP BY and HAVING). */
  private def anchoredTop3(name: String, nCol: String, idCol: String,
      score: String, pairs: (DataFrame, DataFrame) => DataFrame,
      duckScore: String, duckGroup: String): Q = Q(
    name,
    (s, dir) => {
      import s.implicits._
      val nDocs = Tables.load(s, dir, "documents").count()
      val ex = shingled(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val scored = pairs(ex, ex.filter(graft.ops.Anchors.keep(col("doc_id"), nDocs)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val counts = scored.groupBy(col("doc_a").as("cdoc"))
        .agg(count(lit(1)).as(nCol))
      val topk = new graft.functions.TopKAggregator(3).toColumn
      scored.as[(Long, Long, Double)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(topk.name("top"))
        .toDF("doc_id", "top")
        .join(counts, col("doc_id") === col("cdoc"))
        .select(col("doc_id"), col(nCol),
          posexplode(col("top")).as(Seq("i", "t")))
        .select(col("doc_id"), col(nCol), (col("i") + 1).as("rank"),
          col("t._1").as(idCol), col("t._2").as(score))
        .orderBy("doc_id", "rank")
    },
    Some(s"""WITH $duckShingleRows,
          anchors AS (
            SELECT doc_id FROM documents
            WHERE ${graft.ops.Anchors.keepSql("doc_id",
              "SELECT count(*) FROM documents")}),
          pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   $duckScore
            FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
            WHERE a.doc_id IN (SELECT doc_id FROM anchors)
            $duckGroup),
          rk AS (
            SELECT doc_a, doc_b, $score,
                   CAST(count(*) OVER (PARTITION BY doc_a) AS BIGINT)
                     AS $nCol,
                   row_number() OVER (PARTITION BY doc_a
                     ORDER BY $score DESC, doc_b) AS rank
            FROM pairs)
          SELECT doc_a AS doc_id, $nCol, CAST(rank AS INT) AS rank,
                 doc_b AS $idCol, $score
          FROM rk WHERE rank <= 3
          ORDER BY doc_id, rank"""))

  /** X319 d27: ANCHOR-SAMPLED LSH TUNING — the scale posture for d20,
    * whose exact recall/precision measurement computes the FULL truth
    * pair set (the one remaining d-family row whose intermediate volume
    * grows with true match volume; sf1: 259.6 s). The fix is the w38
    * device applied to documents instead of index pairs: a DETERMINISTIC
    * fixed-budget anchor sample both engines compute identically
    * ([[graft.ops.Anchors]]: doc kept iff h(doc_id) < (A·2³²) div n,
    * h the full-64-bit limb-mixed multiplicative hash, A = 2000) —
    * and every truth/candidate pair is counted iff its SMALLER-id
    * member is an anchor. Keep-probability ≈ min(1, A/n), so the
    * shared-shingle truth join's left side (and with it the quadratic
    * intermediate) shrinks by A/n while the recall/precision ESTIMATES
    * stay unbiased over the anchored-pair population; corpora with
    * n ≤ A anchor every doc and the estimates EQUAL d20's exact
    * numbers (DedupTopkSpec proves the equality at proof scale and
    * that sampling engages past the budget). Overflow-safety and the
    * full-width mixing rationale live at [[graft.ops.Anchors]].
    */
  private val d27 = Q(
    "d27_lsh_tuning_sampled",
    (s, dir) => {
      val nDocs = Tables.load(s, dir, "documents").count()
      def anchored(c: Column): Column = graft.ops.Anchors.keep(c, nDocs)
      val nAnchors = Tables.load(s, dir, "documents")
        .filter(anchored(col("doc_id")))
        .agg(count(lit(1)).as("n_anchors"))
      lshTuning(s, dir, anchored).crossJoin(nAnchors)
        .select(col("cfg"), col("n_anchors"),
          col("n_candidates").as("n_candidates_sampled"),
          col("n_true").as("n_true_sampled"),
          col("n_caught").as("n_caught_sampled"),
          col("recall").as("recall_est"),
          col("precision").as("precision_est"))
        .orderBy("cfg")
    },
    Some(duckLshTuning(
      s"""anchors AS (
         |  SELECT doc_id FROM documents
         |  WHERE ${graft.ops.Anchors.keepSql("doc_id",
                "SELECT count(*) FROM documents")}),""".stripMargin,
      c => s"$c IN (SELECT doc_id FROM anchors)") +
      """SELECT cfg, (SELECT CAST(count(*) AS BIGINT) FROM anchors)
        |         AS n_anchors,
        |       n_candidates AS n_candidates_sampled,
        |       n_true AS n_true_sampled, n_caught AS n_caught_sampled,
        |       recall AS recall_est, precision AS precision_est
        |FROM tuning ORDER BY cfg""".stripMargin))

  /** X323 d28: INCREMENTAL NEAR-DUP MAINTENANCE against a STORED LSH
    * index — the gap d23 left open (round-16 verdict "What's missing"
    * #1): d23 recomputes the whole corpus's signatures at ingest time;
    * a production 100 TB index is built ONCE, persisted, and each
    * appended batch probes the stored band buckets with work bounded
    * by the BATCH, never the corpus.
    *
    * Build (offline, once): corpus docs (doc_id % 3 ≠ 0) → MinHash →
    * 4×2 band buckets → parquet. Ingest (per batch): the appended
    * batch (doc_id % 3 = 0) is the ONLY slice that pays the signature
    * pass — `minhashSigsOf` over the filtered scan, the corpus text
    * never re-hashed; its band keys equi-join the STORED index scan,
    * exact Jaccard verifies the candidates (shingle sets semi-joined
    * to candidate docs only — corpus text is read only for actual
    * candidates, the candidate-bounded verify posture shared with
    * d4/d23), and the index delta (band rows of ADMITTED batch docs —
    * no verified dup ≥ 0.5) unions in, reported as index_rows_after.
    *
    * At 100 TB: ingest cost = O(batch) hash + one equi-join against
    * the bucket-keyed index (shuffles batch-side keys; the stored side
    * is scan-pruned by the join) + O(candidates) verify. The corpus
    * neither re-hashes nor re-shuffles. Oracle recomputes the same
    * semantics from scratch — identical because the stored index IS
    * the corpus banding (bandsOf on both paths).
    */
  private val d28 = Q(
    "d28_incremental_lsh",
    (s, dir) => {
      val isBatch = col("doc_id") % 3 === 0
      val docs = Tables.load(s, dir, "documents")
      val idxDir = s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_lsh_index_${Integer.toHexString(dir.hashCode)}"
      // offline build: stored band-bucket index of the existing corpus
      bandsOf(minhashSigsOf(s, docs.filter(!isBatch)))
        .write.mode("overwrite").parquet(idxDir)
      // ingest: batch-only signature pass probes the STORED index
      val stored = s.read.parquet(idxDir)
      val batchBands = bandsOf(minhashSigsOf(s, docs.filter(isBatch)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val cand = batchBands.as("x").join(stored.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_key") === col("y.band_key"))
        .select(col("x.doc_id").as("bdoc"), col("y.doc_id").as("cdoc"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val v = batchVerdicts(s, dir, cand)
      val ncand = cand.groupBy(col("bdoc").as("nbdoc"))
        .agg(count(lit(1)).as("n_candidates"))
      // index delta: admitted batch docs' band rows union into the
      // stored index — two bounded Long counters, the d23 posture
      val dupOwners = v.pairs.select(col("bdoc").as("doc_id")).distinct()
      val idxAfter = stored.count() +
        batchBands.join(dupOwners, Seq("doc_id"), "left_anti").count()
      docs.filter(isBatch).select("doc_id")
        .join(ncand, col("doc_id") === col("nbdoc"), "left")
        .join(v.agg, col("doc_id") === col("abdoc"), "left")
        .join(v.best, col("doc_id") === col("bdoc2"), "left")
        .select(col("doc_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          col("best_match"), col("best_jaccard"),
          col("n_dups").isNull.cast("int").as("admit"),
          lit(idxAfter).as("index_rows_after"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $duckBatchVerdictCtes,
             |ncand AS (
             |  SELECT bdoc, CAST(count(*) AS BIGINT) AS n_candidates
             |  FROM cand GROUP BY 1),
             |idx AS (
             |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM bands
             |          WHERE doc_id % 3 <> 0)
             |       + (SELECT CAST(count(*) AS BIGINT) FROM bands bb
             |          WHERE bb.doc_id % 3 = 0 AND NOT EXISTS (
             |            SELECT 1 FROM agg g WHERE g.bdoc = bb.doc_id))
             |         AS index_rows_after)
             |SELECT d.doc_id,
             |  COALESCE(n.n_candidates, 0) AS n_candidates,
             |  COALESCE(g.n_dups, 0) AS n_dups,
             |  b.best_match, g.best_jaccard,
             |  CAST(g.n_dups IS NULL AS INT) AS admit,
             |  idx.index_rows_after
             |FROM documents d
             |LEFT JOIN ncand n ON d.doc_id = n.bdoc
             |LEFT JOIN agg g ON d.doc_id = g.bdoc
             |LEFT JOIN best b ON d.doc_id = b.bdoc
             |CROSS JOIN idx
             |WHERE d.doc_id % 3 = 0
             |ORDER BY d.doc_id""".stripMargin))

  def all: Seq[Q] =
    Seq(d1, d2, d3, d4, d5, d7, d8, d9, d10, d11, d12, d13, d14, d15,
      d16, d17, d18, d19, d20, d21, d22, d23, d24, d25, d26, d27, d28)
}
