package graft.ops

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora (SURVEY.md §2.13 X1/X2;
  * training-data-pipeline extensions).
  *
  * Scale design: every dedup variant below reduces to hash-partitioned
  * groupBy/join on a SHORT key (a hash, a band id, a bucket) — never a
  * pairwise all-to-all over the corpus. At 100 TB the only shuffles are
  * (a) one map-side-combined aggregation of key→min(id) and (b) a
  * candidate-pair join whose left/right sides are already bucket-pruned.
  */
object DedupOps {

  /** Exact dedup, keep lowest id per identical content. Hashing the
    * content first (md5) keeps the shuffle key 16 bytes instead of
    * shipping full documents through the exchange.
    */
  def exactDedup(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.withColumn("content_hash", md5(col(contentCol)))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep-first dedup via ranked window (SURVEY §2.13 X1): deterministic
    * given a TOTAL ordering.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** MinHash signature columns mh0..mh{n-1}: P[mh_a == mh_b] = J(a, b).
    *
    * Default path is the native `MinhashSigs` expression
    * (graft.functions.HashSigs): one md5 per token per 4-hash group,
    * digested directly on bytes inside WholeStageCodegen — no
    * interpreted HOF lambdas, no hex-string round-trip. Byte-identical
    * to the HOF formulation below and to the DuckDB oracle.
    */
  def withMinhash(df: DataFrame, tokens: Column, nHashes: Int): DataFrame = {
    graft.functions.GraftSparkExtensions.register(df.sparkSession)
    val sig = "__mh_sig"
    val out = (0 until nHashes).foldLeft(
      df.withColumn(sig, call_function("minhash_sigs", tokens, lit(nHashes)))) {
      (d, i) => d.withColumn(s"mh$i", col(sig).getItem(i))
    }
    out.drop(sig)
  }

  /** HOF formulation of [[withMinhash]] (kept for cross-checking the
    * native expression and as the no-extensions fallback).
    *
    * Cost design: ONE md5 per token yields FOUR independent 32-bit hash
    * functions (the 128-bit digest sliced into 8-hex-char windows), so n
    * hashes cost n/4 md5 calls — and the digest arrays are materialized
    * as real columns first, because Catalyst higher-order functions are
    * CodegenFallback with no common-subexpression elimination: slicing
    * from an inlined `transform` would re-run md5 once per signature
    * column. All hashes are md5-derived, so the DuckDB oracle reproduces
    * them bit-for-bit.
    *
    * Input df must carry `tokens` (array<string>); output adds mh0..n.
    */
  def withMinhashHof(df: DataFrame, tokens: Column, nHashes: Int): DataFrame = {
    require(nHashes % 4 == 0, "nHashes must be a multiple of 4 (md5 slices)")
    val groups = nHashes / 4
    val withHex = (0 until groups).foldLeft(df) { (d, g) =>
      d.withColumn(s"__hex$g",
        transform(tokens, t => md5(concat(lit(s"$g:"), t))))
    }
    val out = (0 until groups).foldLeft(withHex) { (d, g) =>
      (0 until 4).foldLeft(d) { (d2, j) =>
        d2.withColumn(s"mh${4 * g + j}",
          array_min(transform(col(s"__hex$g"),
            h => conv(substring(h, 8 * j + 1, 8), 16, 10).cast("long"))))
      }
    }
    (0 until groups).foldLeft(out)((d, g) => d.drop(s"__hex$g"))
  }

  /** LSH banding: docs sharing any band of the signature become candidate
    * pairs. With b bands of r rows, P[candidate] = 1-(1-J^r)^b — the
    * standard S-curve. Returns (band_id, band_key, id) ready for a
    * self-equi-join; the join key is (band_id, band_key), so Spark
    * shuffles only 3 small columns, and each bucket is tiny by
    * construction.
    *
    * band_key is xxhash64 over the band's signature columns directly —
    * an 8-byte join key with no string materialization. Only EQUALITY
    * of the band tuple matters, so any injective-in-practice hash
    * yields the same candidate pairs; a 64-bit collision (~p=0.03 even
    * at 10^9 keys) at worst adds one spurious CANDIDATE, which every
    * consumer re-verifies (Jaccard check / CC over verified pairs).
    */
  def minhashBands(df: DataFrame, idCol: String, sigCols: Seq[String],
                   rowsPerBand: Int): DataFrame = {
    val bands = sigCols.grouped(rowsPerBand).zipWithIndex.map {
      case (grp, i) =>
        struct(lit(i).as("band_id"),
          xxhash64(grp.map(col): _*).as("band_key"))
    }.toSeq
    df.select(col(idCol), explode(array(bands: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_key"))
  }

  /** Candidate near-dup pairs from banded signatures (id_a < id_b). */
  def candidatePairs(banded: DataFrame, idCol: String): DataFrame = {
    val a = banded.select(col("band_id"), col("band_key"), col(idCol).as("id_a"))
    val b = banded.select(col("band_id"), col("band_key"), col(idCol).as("id_b"))
    a.join(b, Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Sketch-accuracy evaluation: for every LSH-banded candidate pair,
    * the MinHash ESTIMATE of Jaccard (fraction of agreeing signature
    * positions) next to the EXACT Jaccard of the token sets — how a
    * pipeline validates its sketch parameters (nHashes, rowsPerBand)
    * on a sample before trusting them on the full corpus.
    *
    * Scale shape: exact-set dedup FIRST (see [[minhashAccuracyFrames]])
    * collapses identical token multisets before the quadratic band
    * machinery; the exact verify runs only on class-representative
    * candidate pairs (linear in near-dups, never corpus-quadratic),
    * and the doc-level pair frame re-attaches by two broadcast
    * membership joins. Returns (id_a, id_b, est_jacc, jaccard)
    * un-rounded — byte-identical to the pre-dedup-first formulation:
    * signatures, band keys, int-rank token arrays and set sizes are all
    * functions of the token multiset alone, so every member of a class
    * carries its representative's values, and an intra-class pair's
    * est_jacc and jaccard are both EXACTLY 1.0 (all nHashes positions
    * agree: n/n; i = n ⇒ n/(2n−n)) — the literals the expansion emits.
    */
  def minhashAccuracy(df: DataFrame, idCol: String, tokens: Column,
                      nHashes: Int, rowsPerBand: Int): DataFrame = {
    val f = minhashAccuracyFrames(df, idCol, tokens, nHashes, rowsPerBand)
    val mem = f.membership
    // membership is CORPUS-row-sized — never broadcast; the planner
    // picks the strategy (AQE broadcasts at fixture sizes, shuffle-join
    // on the rep key at cluster scale, skew bounded by class size)
    val cross = f.pairs
      .withColumnRenamed("id_a", "__ra").withColumnRenamed("id_b", "__rb")
      .join(mem.select(col("__rep").as("__ra"),
        col("__oid").as("__ia")), Seq("__ra"))
      .join(mem.select(col("__rep").as("__rb"),
        col("__oid").as("__ib")), Seq("__rb"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        col("est_jacc"), col("jaccard"))
    val intra = mem.select(col("__rep"), col("__oid").as("__ia"))
      .join(mem.select(col("__rep"), col("__oid").as("__ib")),
        Seq("__rep"))
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"),
        lit(1.0).as("est_jacc"), lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** The class-representative half of [[minhashAccuracy]] (round 12;
    * the PERF_NOTES R10.7 / prefixJaccardJoin production order applied
    * to the MinHash family): exact-set dedup FIRST, then sigs → LSH
    * bands → candidate pairs → int-rank exact verify on the distinct
    * token-multiset REPRESENTATIVES only. Candidate and verify volume
    * is ~d² in the per-set duplication factor d (every band groups all
    * d copies), so collapsing d to 1 before banding is the decade
    * insurance the adversarial d=10 sf1 fixture demands — and a
    * measured fixture win too (the sf0.1 corpus has d≈1.27 ⇒ ~1.6× on
    * the quadratic stages).
    *
    * Exactness: a doc's MinHash signature, band keys, sorted int-rank
    * array and set size are functions of its token MULTISET alone
    * (min over token hashes ignores duplicates and order; the class
    * key is md5 over the canonical sorted token list, so class members
    * share the multiset). Hence candidacy is a class-level property
    * (identical sigs share every band) and est_jacc/jaccard are
    * class-level values — the doc-level expansion in
    * [[minhashAccuracy]] reproduces the naive output exactly.
    *
    * Callers that only need CLASS-level structure (q145's connected
    * components: intra-class pairs are cliques at jaccard 1.0, so doc
    * components are exactly rep components expanded by membership)
    * consume these frames directly and skip the pair expansion.
    *
    * @return pairs: (id_a, id_b, est_jacc, jaccard) over representative
    *         ids (id_a < id_b, un-rounded, EXCLUDING intra-class
    *         pairs); membership: (__rep, __oid) — every input doc's
    *         class representative (rep = min id of the class, so the
    *         min doc of any class union is the min rep)
    */
  private[graft] case class MinhashAccFrames(pairs: DataFrame,
                                             membership: DataFrame)

  private[graft] def minhashAccuracyFrames(df: DataFrame, idCol: String,
      tokens: Column, nHashes: Int, rowsPerBand: Int): MinhashAccFrames = {
    val sigCols = (0 until nHashes).map(i => s"mh$i")
    graft.functions.GraftSparkExtensions.register(df.sparkSession)
    val keyed = df.select(col(idCol).as("__oid"), tokens.as("__otoks"))
      .withColumn("__st", sort_array(col("__otoks")))
      .withColumn("__ck", md5(to_json(col("__st"))))
    val classes = keyed.groupBy(col("__ck"))
      .agg(min(col("__oid")).as("__rep"), first(col("__st")).as("__rtoks"))
      // distinct-set-sized (≤ survivor corpus — the tiny-derived-frame
      // checkpoint class): read by the signature path below AND by both
      // membership joins in the caller; without it the md5-class agg
      // lineage re-executes under each
      .localCheckpoint()
    // Dense-rank the vocabulary and carry token sets into the pair join
    // as INT-id arrays: the per-candidate-pair intersection (the hot
    // loop — degenerate corpora make candidates quadratic) then hashes
    // ints instead of strings. array_position over the sorted broadcast
    // vocab is injective, so intersection sizes — hence exact Jaccard —
    // are unchanged. Signatures still hash the original tokens (the
    // class token list is the member list reordered; MinHash is
    // order/duplicate-invariant).
    val raw = withMinhash(classes.select(col("__rep").as(idCol),
      col("__rtoks").as("__toks")), col("__toks"), nHashes)
    val vocab = raw.select(explode(col("__toks")).as("t")).distinct()
      .agg(sort_array(collect_list(col("t"))).as("__vl"))
    val t = raw
      .crossJoin(broadcast(vocab))
      .withColumn("__ti", sort_array(
        transform(col("__toks"), x => array_position(col("__vl"), x).cast("int"))))
      .withColumn("__n", size(col("__ti")))
      .drop("__toks", "__vl")
      .localCheckpoint()
    val pairs = candidatePairs(minhashBands(t, idCol, sigCols, rowsPerBand), idCol)
    def side(sfx: String) = t.select(
      (col(idCol).as(s"id_$sfx") +: col("__ti").as(s"__ti_$sfx") +:
        col("__n").as(s"__n_$sfx") +:
        sigCols.map(c => col(c).as(s"${c}_$sfx"))): _*)
    val agree = sigCols.map(c =>
      when(col(s"${c}_a") === col(s"${c}_b"), 1).otherwise(0))
      .reduce(_ + _)
    val repPairs = pairs.join(side("a"), "id_a").join(side("b"), "id_b")
      // sorted two-pointer merge count (native, zero-allocation): the
      // per-pair hot loop — array_intersect would build a hash set AND
      // the intersection array per pair just to take its size
      .withColumn("__i",
        call_function("sorted_intersect_count",
          col("__ti_a"), col("__ti_b")).cast("double"))
      .withColumn("est_jacc", agree.cast("double") / nHashes)
      .withColumn("jaccard",
        col("__i") / (col("__n_a") + col("__n_b") - col("__i")))
      .select(col("id_a"), col("id_b"), col("est_jacc"), col("jaccard"))
    val membership = keyed.select(col("__ck"), col("__oid"))
      .join(classes.select(col("__ck"), col("__rep")), Seq("__ck"))
      .select(col("__rep"), col("__oid"))
    MinhashAccFrames(repPairs, membership)
  }

  /** Exact Jaccard over distinct token arrays. When both sizes are
    * already known equal (e.g. joined on set size), prefer the
    * intersection-only identity i/(2n-i) — see q25 — which skips the
    * array_union allocation.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** SimHash over a token set: bit j of the output is the sign of
    * Σ_tokens (bit j of hash32(token) ? +1 : -1); near-dups land within
    * small Hamming distance. Adds `out` to df.
    *
    * Default path is the native `SimhashExpr` expression: one md5 per
    * token + integer vote loop, codegen-resident. Byte-identical to the
    * HOF formulation below and the DuckDB oracle.
    */
  def withSimhash(df: DataFrame, tokens: Column, bits: Int,
                  out: String): DataFrame = {
    graft.functions.GraftSparkExtensions.register(df.sparkSession)
    df.withColumn(out, call_function("simhash", tokens, lit(bits)))
  }

  /** HOF formulation of [[withSimhash]] (cross-check / fallback).
    *
    * The per-token hash array is materialized ONCE as a column, then all
    * `bits` vote-aggregations run cheap integer ops over it — inlining
    * hash32 into each bit's aggregate would run md5 `bits`× per token
    * (HOFs get no subexpression elimination).
    */
  def withSimhashHof(df: DataFrame, tokens: Column, bits: Int,
                     out: String): DataFrame = {
    val hcol = "__sh_hashes"
    val votes = (0 until bits).map { j =>
      aggregate(col(hcol), lit(0L),
        (acc, h) => acc + (shiftright(h, j) % 2) * 2 - 1)
    }
    val sim = votes.zipWithIndex.map { case (v, j) =>
      when(v > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn(hcol, transform(tokens, t => TextOps.hash32(t)))
      .withColumn(out, sim)
      .drop(hcol)
  }

  /** Hamming distance between two simhash values (for near-dup joins). */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** All pairs within `maxHamming` of each other's `bits`-bit simhash,
    * via LSH banding: `bands` equal slices of the signature; two sigs
    * within Hamming `maxHamming < bands` must share at least one
    * identical band (pigeonhole), so the (band_id, band_key) equi-join
    * has FULL recall and only bucket-local candidates are compared.
    * Returns (id_a, id_b, hamming), id_a < id_b.
    */
  def simhashHammingPairs(df: DataFrame, idCol: String, shCol: String,
                          maxHamming: Int, bands: Int,
                          bits: Int = 32): DataFrame = {
    require(maxHamming < bands, "need maxHamming < bands for full recall")
    require(bits % bands == 0, "bands must divide bits")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val bandStructs = (0 until bands).map { i =>
      struct(lit(i).as("band_id"),
        shiftright(col(shCol), i * bandBits).bitwiseAND(lit(mask))
          .as("band_key"))
    }
    val banded = df.select(col(idCol), col(shCol),
      explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col(shCol), col("b.band_id"), col("b.band_key"))
    val a = banded.select(col("band_id"), col("band_key"),
      col(idCol).as("id_a"), col(shCol).as("sh_a"))
    val bb = banded.select(col("band_id"), col("band_key"),
      col(idCol).as("id_b"), col(shCol).as("sh_b"))
    a.join(bb, Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        hammingDist(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Class-representative SimHash clustering frames (round 12 —
    * dedup-first applied to the SimHash near-dup → connected-components
    * path, the same argument as [[minhashAccuracyFrames]]): a doc's
    * SimHash is a function of its token MULTISET alone (per-bit vote
    * sums are order-invariant and count duplicates), so identical
    * multisets share the signature, every LSH band, and Hamming
    * distance 0 ≤ maxHamming — each class is a clique of the doc-level
    * ε-graph and cross-class edges are class-level properties. The
    * doc-level components are therefore EXACTLY the rep-level
    * components expanded by membership, and cluster_id = min doc of a
    * component = min rep (rep = min id of its class). Candidate and CC
    * volume shrink ~d² / ~d in the per-multiset duplication factor d.
    *
    * @return membership (__rep, __oid): every doc's class
    *         representative; repClusters (node, cluster_id): connected
    *         components over verified rep pairs (hamming ≤ maxHamming),
    *         one row per representative
    */
  private[graft] case class SimhashCCFrames(membership: DataFrame,
                                            repClusters: DataFrame)

  private[graft] def simhashCCFrames(df: DataFrame, idCol: String,
      tokens: Column, bits: Int, maxHamming: Int,
      bands: Int): SimhashCCFrames = {
    graft.functions.GraftSparkExtensions.register(df.sparkSession)
    val keyed = df.select(col(idCol).as("__oid"), tokens.as("__otk"))
      .withColumn("__st", sort_array(col("__otk")))
      .withColumn("__ck", md5(to_json(col("__st"))))
    val classes = keyed.groupBy(col("__ck"))
      .agg(min(col("__oid")).as("__rep"), first(col("__st")).as("__rtk"))
      // distinct-multiset-sized — read by the signature path and the
      // membership join
      .localCheckpoint()
    val sh = withSimhash(classes.select(col("__rep").as(idCol),
        col("__rtk")), col("__rtk"), bits, "sh")
      .select(col(idCol), col("sh"))
      // the banded self-join reads the signatures from BOTH sides;
      // Catalyst does not reuse the exchange across the
      // differently-aliased subplans (the q59 lesson)
      .localCheckpoint()
    val repPairs = simhashHammingPairs(sh, idCol, "sh", maxHamming, bands)
      .select(col("id_a"), col("id_b"))
      // CC symmetrizes the edge list; don't evaluate the band join twice
      .localCheckpoint()
    val repCC = connectedComponents(
      classes.select(col("__rep").as(idCol)), idCol,
      repPairs, "id_a", "id_b")
    SimhashCCFrames(
      keyed.select(col("__ck"), col("__oid"))
        .join(classes.select(col("__ck"), col("__rep")), Seq("__ck"))
        .select(col("__rep"), col("__oid")),
      repCC)
  }

  /** Benchmark decontamination (training-data pipeline): corpus
    * documents sharing at least one word n-gram with ANY benchmark/eval
    * document, with the overlap count. The standard pre-training hygiene
    * step: held-out eval sets must be scrubbed from the corpus by
    * n-gram overlap, not just exact match.
    *
    * Scale shape: the benchmark side (thousands of eval docs) collapses
    * to a DISTINCT shingle-hash set and broadcasts — the corpus is
    * never shuffled, only its exploded shingle hashes stream through a
    * broadcast-hash semi-join + one map-side-combined count per doc.
    * Shingles ship as 8-byte hashes, not strings.
    *
    * @return (idCol, n_hits) — only contaminated docs, n_hits = number
    *         of distinct shared n-grams
    */
  def contaminationHits(corpus: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, n: Int): DataFrame = {
    graft.functions.GraftSparkExtensions.register(corpus.sparkSession)
    // wordShingles is already distinct per doc and the bench side is
    // distinct overall, so each (doc, hash) join hit is unique: plain
    // count == count_distinct, without the extra dedup exchange
    val c = corpus.select(col(idCol),
        explode(TextOps.wordShingles(col(textCol), n)).as("__sh"))
      .select(col(idCol), TextOps.hash32(col("__sh")).as("sh_hash"))
    val b = bench.select(explode(TextOps.wordShingles(col(textCol), n)).as("__sh"))
      .select(TextOps.hash32(col("__sh")).as("sh_hash")).distinct()
    c.join(broadcast(b), Seq("sh_hash"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Exact threshold Jaccard self-join via prefix filtering (AllPairs/
    * PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08): the
    * EXACT counterpart to MinHash-LSH. Where LSH trades recall for
    * speed, the prefix filter is lossless: every pair with
    * J(a, b) >= threshold is emitted, yet no all-pairs cross ever runs.
    *
    * How: tokens are rank-encoded by ascending document frequency
    * (rarest first — the canonical order that minimizes candidates);
    * each doc's candidate-generating prefix is its first
    * n - floor(t*n) + 1 rarest tokens. Pigeonhole: two sets with
    * J >= t (hence overlap >= ceil(t*|a|), given the size filter
    * t*|a| <= |b| <= |a|/t) MUST share a prefix token — so the
    * equi-join on prefix-token id has full recall, and only those
    * candidates pay the exact verify.
    *
    * Scale shape: two exploded-token shuffles (rank join + prefix
    * join) and a candidate-pair verify with the zero-allocation
    * `sorted_intersect_count` two-pointer merge over int-rank arrays.
    * The prefix join's key is a single int whose frequency is BOUNDED
    * by construction — rare tokens head the prefixes, so no hot-key
    * skew even on Zipfian vocabularies (contrast a join on raw
    * tokens, where "the" would be a straggler).
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, unrounded.
    */
  def prefixJaccardJoin(df: DataFrame, idCol: String, tokens: Column,
                        threshold: Double): DataFrame = {
    // EXACT-SET dedup FIRST (round 12; the PERF_NOTES R10.7 production
    // order, measured there): Jaccard depends only on the token SET,
    // so identical sets collapse to one representative BEFORE the
    // quadratic candidate machinery — candidate and verify volume is
    // ~d^2 in the per-set duplication factor d, and the adversarial
    // d=10 sf1 fixture DNF'd >20 min in the naive order while the
    // composed order is flat. Set identity is md5 over the canonical
    // (sorted, JSON-escaped) token list — the exactDedup content-hash
    // idiom, 16-byte shuffle keys. Families re-attach through linear
    // joins on the representative id; intra-class pairs are emitted
    // directly at jaccard 1.0, which IS their exact value (i = n,
    // union = n ⇒ n/(2n−n) = 1.0 — bit-equal to the verify's double).
    // No new checkpoint: the repeated mem subtree reads dedup through
    // AQE exchange reuse (measured equal to a checkpointed variant at
    // sf0.1, and a corpus-row checkpoint is exactly what the round-11
    // advice warns against at cluster scale).
    val f = prefixJaccardClassFrames(df, idCol, tokens, threshold)
    val mem = f.membership
    val cross = f.repPairs
      .join(mem.select(col("__rep").as("__ra"), col("__oid").as("__ia")),
        Seq("__ra"))
      .join(mem.select(col("__rep").as("__rb"), col("__oid").as("__ib")),
        Seq("__rb"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("jaccard"))
    val intra = mem.select(col("__rep"), col("__oid").as("__ia"))
      .join(mem.select(col("__rep"), col("__oid").as("__ib")), Seq("__rep"))
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** The class-level half of [[prefixJaccardJoin]] (round 12): verified
    * REPRESENTATIVE pairs + the class membership, for consumers that
    * never need the doc-level pair list. q329's blocking metrics are
    * pure COUNTS over the truth relation — n_truth = Σ|A||B| over rep
    * pairs + ΣC(|A|,2) over classes, and a candidate pair's truth test
    * is a rep-pair lookup — so materializing (and checkpointing) the
    * ~|truth| expansion (5.1M rows at sf0.1, d²-growing) would be pure
    * waste there.
    *
    * @return repPairs (__ra, __rb, jaccard): verified pairs ≥ threshold
    *         over class representatives (__ra < __rb, EXCLUDING
    *         intra-class pairs, whose jaccard is identically 1.0);
    *         membership (__rep, __oid): every doc's class rep
    */
  private[graft] case class PrefixJoinClassFrames(repPairs: DataFrame,
                                                  membership: DataFrame)

  private[graft] def prefixJaccardClassFrames(df: DataFrame, idCol: String,
      tokens: Column, threshold: Double): PrefixJoinClassFrames = {
    val keyed = df.select(col(idCol).as("__oid"), tokens.as("__otoks"))
      .withColumn("__st", sort_array(col("__otoks")))
      .withColumn("__ck", md5(to_json(col("__st"))))
    val classes = keyed.groupBy(col("__ck"))
      .agg(min(col("__oid")).as("__rep"), first(col("__st")).as("__rtoks"))
      // distinct-set-sized (≤ survivor corpus — the same storage class
      // as the op's own `ranked` checkpoint): its md5-class agg lineage
      // otherwise re-executes under the candidate frames AND both
      // mem-expansion reads (measured 2-4 s/query at sf0.1)
      .localCheckpoint()
    val f = prefixCandidateFrames(
      classes.select(col("__rep").as("__rid"), col("__rtoks")),
      "__rid", col("__rtoks"), threshold)
    val repPairs = verifyPrefixCandidates(f, threshold)
      .withColumnRenamed("id_a", "__ra").withColumnRenamed("id_b", "__rb")
    val mem = keyed.select(col("__ck"), col("__oid"))
      .join(classes.select(col("__ck"), col("__rep")), Seq("__ck"))
      .select(col("__rep"), col("__oid"))
    PrefixJoinClassFrames(repPairs, mem)
  }

  /** The candidate-generation half of [[prefixJaccardJoin]], exposed
    * (package-private) so PrefixJoinSpec can A/B the PPJoin positional
    * filter's pruning on a skewed vocabulary: with
    * `positionalFilter = false` the candidates are plain prefix-token
    * blocking + size filter; with it (the default and the production
    * path) mismatched-position collisions are pruned BEFORE the
    * distinct/verify. Both settings are complete (verified output is
    * identical); the difference is candidate volume.
    */
  private[graft] case class PrefixJoinFrames(ranked: DataFrame,
                                             candidates: DataFrame)

  private[graft] def prefixCandidateFrames(df: DataFrame, idCol: String,
      tokens: Column, threshold: Double,
      positionalFilter: Boolean = true): PrefixJoinFrames = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    graft.functions.GraftSparkExtensions.register(df.sparkSession)
    val toks = df.select(col(idCol).as("__id"), tokens.as("__toks"))
    val exploded = toks.select(col("__id"), explode(col("__toks")).as("__t"))
    // ascending-df rank, DISTRIBUTED (round 12): the vocabulary grows
    // with the corpus (Heaps' law), so the former single-task global
    // row_number over it was the unpartitioned-window trap one step
    // removed (it hid behind the `ranked` checkpoint until the
    // checkpoint-aware lint). Correctness needs only SOME total order
    // shared by the prefix slices and the sorted rank arrays — the
    // pigeonhole/positional-filter proofs never use WHICH order — and
    // candidate volume only needs ascending df as the PRIMARY key
    // (within a df tie-block all tokens are equally rare, so tie order
    // is pruning-neutral). Canonical order: (df, hash bucket, hash,
    // token); rank = dfStart + bucketStart + within-cell row_number:
    //  - the rank window partitions by (df, 1024-wide xxhash64
    //    bucket): even the df=1 tie block that holds ~half a Zipf
    //    vocabulary splits uniformly, max task ~ maxBlock/1024;
    //  - bucket starts: within-df exclusive cumsum over the
    //    (df, bucket) histogram — ≤1024 rows per window partition;
    //  - df-block starts: ONE exclusive-cumsum window over the
    //    distinct-df frame, ≤ √(2·Σ tokens) rows by pigeonhole (k
    //    distinct df values need ≥ k(k+1)/2 token instances), i.e.
    //    ~4.5M rows at 10^13 corpus tokens — bounded, whitelisted.
    // Two vocab-sized exchanges total (the token agg and the
    // (df, bucket) rank shuffle, which the starts join co-partitions
    // with) — same order as the old single-window form, but no task
    // ever holds the whole vocabulary. The rank stays a bijection
    // ordered by ascending df, so the verified (id_a, id_b, jaccard)
    // output is unchanged (oracle is the order-free brute-force join).
    val counted = exploded.groupBy(col("__t"))
      .agg(count(lit(1)).as("__df"))
      .withColumn("__h", xxhash64(col("__t")))
      .withColumn("__bkt", pmod(col("__h"), lit(1024)).cast("int"))
      // vocab-sized (Heaps-sublinear) — the tiny-derived-frame class
      // localCheckpoint is FOR: its corpus explode+agg lineage feeds
      // the size probe, the histogram, the starts join, and the rank
      // join below
      .localCheckpoint()
    // SCALE-ADAPTIVE branch (the connectedComponents loopParts
    // pattern: size distributed machinery from a materialized count —
    // a cache scan on the checkpointed frame, not a recompute). Below
    // 4M distinct tokens the single-window sort is ≤~120 MB in one
    // task and its distributed replacement costs ~4 extra jobs per
    // invocation (measured +1.2 s/query at sf0.1); above, the
    // bucketed decomposition keeps every task at maxBlock/1024.
    val vocabSize = counted.count()
    val vocab = if (vocabSize <= 4000000L) {
      counted.withColumn("__rank", row_number().over(
          Window.orderBy(col("__df"), col("__h"), col("__t"))))
        .select(col("__t"), col("__rank"))
    } else {
      val h1 = counted.groupBy(col("__df"), col("__bkt"))
        .agg(count(lit(1)).as("__c"))
      val dfTotals = h1.groupBy(col("__df")).agg(sum(col("__c")).as("__dc"))
        .withColumn("__dstart", coalesce(sum(col("__dc")).over(
          Window.orderBy(col("__df"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("__df"), col("__dstart"))
      val starts = h1.withColumn("__bstart", coalesce(sum(col("__c")).over(
          Window.partitionBy(col("__df")).orderBy(col("__bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .join(dfTotals, Seq("__df"))
        .select(col("__df"), col("__bkt"),
          (col("__dstart") + col("__bstart")).as("__start"))
      counted.join(starts, Seq("__df", "__bkt"))
        .withColumn("__rank", col("__start") + row_number().over(
          Window.partitionBy(col("__df"), col("__bkt"))
            .orderBy(col("__h"), col("__t"))))
        .select(col("__t"), col("__rank"))
    }
    // re-assemble each doc as a sorted int-rank array (rarest-first ==
    // ascending rank, so the sorted array IS the canonical prefix
    // order and feeds sorted_intersect_count directly)
    val ranked = exploded.join(vocab, Seq("__t"))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__rank").cast("int"))).as("__r"))
      .withColumn("__n", size(col("__r")))
      // floor (not ceil) keeps the prefix a hair LONGER than the
      // minimal |x| - ceil(t|x|) + 1 — immune to double rounding at
      // integer t*n boundaries, always complete
      .withColumn("__plen",
        least(col("__n"),
          (col("__n") - floor(col("__n") * threshold) + 1).cast("int")))
      // ASYMMETRIC (indexing) prefix, Xiao et al. WWW'08 §4: order each
      // pair by (size, id); the lex-SMALLER side only ever needs
      // overlap alpha >= ceil(2t/(1+t)*na) against any admissible
      // partner (na <= nb), so its candidate-generating prefix shrinks
      // to na - ceil(2t/(1+t)*na) + 1 (~half of __plen at t=0.9) and
      // the bucket join pays |short_t| x |long_t| per token instead of
      // |long_t|^2. ceil via the boundary-safe floor(x - eps) + 1.
      .withColumn("__psh",
        least(col("__plen"), (col("__n") -
          (floor(col("__n") * (2 * threshold / (1 + threshold)) - 1e-9)
            + 1) + 1).cast("int")))
      .localCheckpoint() // both join sides + verify read this frame
    val prefixes = ranked.select(col("__id"), col("__n"), col("__psh"),
        posexplode(slice(col("__r"), lit(1), col("__plen"))))
      .select(col("__id"), col("__n"), col("__psh"),
        col("pos").as("__p"), col("col").as("__pt"))
    // role join: a = lex-smaller (size, id) side restricted to its
    // SHORT prefix; b = the full prefix. Complete: a true pair's
    // theorem prefixes na-alpha+1 / nb-alpha+1 are <= __psh(a) (alpha
    // >= ceil(2t/(1+t)na) since na <= nb) and <= __plen(b) (alpha >=
    // ceil(t*nb) since a true pair has na >= t*nb), so the guaranteed
    // shared token survives both slices.
    val cands = prefixes.filter(col("__p") < col("__psh"))
      .select(col("__pt"), col("__id").as("id_a"),
        col("__n").as("__na"), col("__p").as("__pa"))
      .join(prefixes.select(col("__pt"), col("__id").as("id_b"),
        col("__n").as("__nb"), col("__p").as("__pb")), Seq("__pt"))
      // (size, id) lex order spelled as int comparisons — the struct()
      // form of the same predicate measured +3 s/query at sf0.1
      .filter(col("__na") < col("__nb") ||
        (col("__na") === col("__nb") && col("id_a") < col("id_b")))
      // size filter: J >= t forces t <= |a|/|b| <= 1/t (epsilon guards
      // the exact-boundary double product, e.g. 5 * 0.6 -> 3.0000…04)
      .filter(col("__nb") >= col("__na") * threshold - 1e-9 &&
        col("__na") >= col("__nb") * threshold - 1e-9)
      // positional filter (PPJoin, Xiao et al. WWW'08): for a shared
      // token at 0-based sorted positions (pa, pb), the overlap cannot
      // exceed min(pa,pb) + 1 + min(na-pa-1, nb-pb-1) — a true bound
      // for ANY shared token, so if the pair's true overlap reaches
      // alpha = ceil(t/(1+t)(na+nb)), EVERY shared prefix token passes
      // and completeness is preserved; mismatched-position matches are
      // pruned before the distinct/verify. alpha via floor(x-eps)+1 ==
      // ceil with the boundary-safe direction (never overestimates).
      .filter(!lit(positionalFilter) ||
        least(col("__pa"), col("__pb")) + 1 +
          least(col("__na") - col("__pa") - 1, col("__nb") - col("__pb") - 1) >=
          floor((col("__na") + col("__nb")) * (threshold / (1 + threshold)) - 1e-9) + 1)
      // roles were (size, id)-ordered; the output contract is id order
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
    PrefixJoinFrames(ranked, cands)
  }

  private[graft] def verifyPrefixCandidates(f: PrefixJoinFrames,
      threshold: Double): DataFrame = {
    val ranked = f.ranked
    f.candidates
      .join(ranked.select(col("__id").as("id_a"), col("__r").as("__ra"),
        col("__n").as("__na")), Seq("id_a"))
      .join(ranked.select(col("__id").as("id_b"), col("__r").as("__rb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("__i",
        call_function("sorted_intersect_count", col("__ra"), col("__rb"))
          .cast("double"))
      .withColumn("jaccard",
        col("__i") / (col("__na") + col("__nb") - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[contaminationHits]] restated for a benchmark side too large to
    * broadcast as an exact hash set: a Bloom filter over the eval
    * shingle hashes (`df.stat.bloomFilter` — constant-size bits at any
    * eval-set cardinality) broadcasts instead, prunes the corpus
    * shingle stream in the scan stage, and only the surviving sliver
    * pays the exact shuffle join against the true hash set. False
    * positives cost a re-check, never a wrong answer — the output is
    * exactly [[contaminationHits]]'s.
    *
    * At 100 TB this is the standard asymmetric-join downgrade path:
    * broadcast-exact (q85) while the eval side fits, Bloom-prune +
    * shuffle-verify when it doesn't. fpp sizes bits/element
    * (~ -ln(fpp)·1.44 bits): 1 % ≈ 9.6 bits/shingle vs 64-bit exact
    * hashes — ~7× smaller broadcast for the same pruning work.
    */
  def bloomContaminationHits(corpus: DataFrame, bench: DataFrame,
                             idCol: String, textCol: String, n: Int,
                             fpp: Double = 0.01): DataFrame = {
    graft.functions.GraftSparkExtensions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol),
        explode(TextOps.wordShingles(col(textCol), n)).as("__sh"))
      .select(col(idCol), TextOps.hash32(col("__sh")).as("sh_hash"))
    val b = bench.select(explode(TextOps.wordShingles(col(textCol), n)).as("__sh"))
      .select(TextOps.hash32(col("__sh")).as("sh_hash")).distinct()
      .localCheckpoint() // sketched once, then the verify join's build side
    val bf = b.stat.bloomFilter("sh_hash", math.max(b.count(), 1L), fpp)
    val bfBc = corpus.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((h: Long) => bfBc.value.mightContainLong(h))
    c.filter(mightContain(col("sh_hash")))
      .join(b, Seq("sh_hash")) // exact re-check: kills FPs
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Incremental near-dup admission: verified MinHash near-dup pairs
    * between a NEW batch and the EXISTING corpus only — the shape every
    * continuously-ingesting pipeline actually runs (q27/q145 dedup a
    * static corpus against itself). Candidates are new×old band
    * matches; old×old pairs never form, so daily cost is
    * O(batch × collision rate), not O(corpus²) — and at scale the
    * corpus side's signatures are computed once and STORED (here they
    * are derived in-plan for self-containment).
    *
    * Returns (batch_id, corpus_id, jaccard >= threshold), unrounded.
    */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame, idCol: String,
                         tokens: Column, nHashes: Int, rowsPerBand: Int,
                         threshold: Double): DataFrame = {
    graft.functions.GraftSparkExtensions.register(corpus.sparkSession)
    val sigCols = (0 until nHashes).map(i => s"mh$i")
    // Exact-set dedup FIRST, per side (round 12 — the
    // minhashAccuracyFrames argument applied to the incremental shape):
    // signatures, band keys, int-rank arrays and set sizes are
    // functions of the token multiset, so CROSS-side candidacy and
    // jaccard are class-level properties; the band join and verify run
    // on class representatives (~d² less volume on duplicate-heavy
    // corpora — the d=10 fixture measured 67 s naive vs flat composed)
    // and two membership joins expand every qualifying class pair back
    // to doc-level (batch_id, corpus_id) rows. Identical-multiset
    // classes ACROSS sides still pair up through their reps (identical
    // sigs share every band; jaccard 1.0 ≥ threshold), so the expansion
    // reproduces the naive output exactly.
    def classesOf(df: DataFrame) = {
      val keyed = df.select(col(idCol).as("__oid"), tokens.as("__otoks"))
        .withColumn("__st", sort_array(col("__otoks")))
        .withColumn("__ck", md5(to_json(col("__st"))))
      val cls = keyed.groupBy(col("__ck"))
        .agg(min(col("__oid")).as("__rep"), first(col("__st")).as("__rtoks"))
        // distinct-multiset-sized; read by the signature path and the
        // membership join
        .localCheckpoint()
      val mem = keyed.select(col("__ck"), col("__oid"))
        .join(cls.select(col("__ck"), col("__rep")), Seq("__ck"))
        .select(col("__rep"), col("__oid"))
      (cls, mem)
    }
    val (clsC, memC) = classesOf(corpus)
    val (clsB, memB) = classesOf(batch)
    val rawC = withMinhash(clsC.select(col("__rep").as(idCol),
      col("__rtoks").as("__toks")), col("__toks"), nHashes)
    val rawB = withMinhash(clsB.select(col("__rep").as(idCol),
      col("__rtoks").as("__toks")), col("__toks"), nHashes)
    // Shared vocab over BOTH sides → int-rank-encode the token sets, so
    // the per-candidate verify is the native sorted_intersect_count
    // two-pointer merge, not a string-set array_intersect (R4.0: 4x on
    // degenerate candidate sets). Ranks are injective across sides, so
    // intersection sizes — hence Jaccard — are unchanged.
    val vocab = rawC.select(explode(col("__toks")).as("t"))
      .union(rawB.select(explode(col("__toks")).as("t"))).distinct()
      .agg(sort_array(collect_list(col("t"))).as("__vl"))
    def enc(df: DataFrame) = df.crossJoin(broadcast(vocab))
      .withColumn("__ti", sort_array(transform(col("__toks"),
        x => array_position(col("__vl"), x).cast("int"))))
      .withColumn("__n", size(col("__ti")))
      .drop("__toks", "__vl")
      .localCheckpoint() // bands + verify both read the signatures
    val sigC = enc(rawC)
    val sigB = enc(rawB)
    val bandsC = minhashBands(sigC, idCol, sigCols, rowsPerBand)
      .withColumnRenamed(idCol, "corpus_id")
    val bandsB = minhashBands(sigB, idCol, sigCols, rowsPerBand)
      .withColumnRenamed(idCol, "batch_id")
    // batch side is the small one — broadcast it through the band join
    val cands = bandsC.join(broadcast(bandsB), Seq("band_id", "band_key"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    cands
      .join(sigB.select(col(idCol).as("batch_id"), col("__ti").as("__tb"),
        col("__n").as("__nb")), Seq("batch_id"))
      .join(sigC.select(col(idCol).as("corpus_id"), col("__ti").as("__tc"),
        col("__n").as("__nc")), Seq("corpus_id"))
      .withColumn("__i", call_function("sorted_intersect_count",
        col("__tb"), col("__tc")).cast("double"))
      .withColumn("jaccard",
        col("__i") / (col("__nb") + col("__nc") - col("__i")))
      .filter(col("jaccard") >= threshold)
      // rep-level (batch_rep, corpus_rep, jaccard) → doc-level rows;
      // membership is corpus-row-sized — never broadcast (AQE picks
      // broadcast at fixture sizes itself)
      .select(col("batch_id").as("__rb"), col("corpus_id").as("__rc"),
        col("jaccard"))
      .join(memB.select(col("__rep").as("__rb"), col("__oid").as("batch_id")),
        Seq("__rb"))
      .join(memC.select(col("__rep").as("__rc"), col("__oid").as("corpus_id")),
        Seq("__rc"))
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** Asymmetric token-set containment against an eval set:
    * C(corpus_doc ⊇ eval_doc) = |A ∩ B| / |B| — the decontamination
    * test when eval items are SHORT relative to corpus docs (an exam
    * question embedded in a long page keeps Jaccard low but containment
    * ≈ 1; [[contaminationHits]]'s n-gram overlap needs contiguous
    * matches, this doesn't). Returns (idCol, evalIdCol, containment)
    * for pairs with containment >= threshold.
    *
    * Scale shape: the eval side explodes to (token, eval_id, eval_size)
    * and broadcasts (evals are thousands, corpora billions); corpus
    * tokens stream through the broadcast-hash join once, and the
    * per-(doc, eval) hit counts collapse in one map-side-combined
    * aggregation. `tokens` must produce DISTINCT sets (e.g.
    * TextOps.tokenSet) so hits == |A ∩ B|.
    */
  def containmentHits(corpus: DataFrame, eval_ : DataFrame, idCol: String,
                      evalIdCol: String, tokens: DataFrame => Column,
                      threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol), explode(tokens(corpus)).as("__t"))
    val e = eval_.select(col(evalIdCol), tokens(eval_).as("__ts"))
      .select(col(evalIdCol), size(col("__ts")).as("__esz"),
        explode(col("__ts")).as("__t"))
    c.join(broadcast(e), Seq("__t"))
      .groupBy(col(idCol), col(evalIdCol))
      .agg(count(lit(1)).as("__hits"), first(col("__esz")).as("__esz"))
      .filter(col("__hits") >= col("__esz") * threshold - 1e-9)
      .select(col(idCol), col(evalIdCol),
        (col("__hits").cast("double") / col("__esz")).as("containment"))
  }

  /** Connected components over an undirected edge list — the final step
    * of any near-dup pipeline: candidate pairs only relate docs
    * PAIRWISE; keeping one representative per duplicate GROUP needs the
    * transitive closure (a~b, b~c ⇒ {a,b,c} one cluster).
    *
    * Algorithm: iterative min-label propagation (each node repeatedly
    * adopts the smallest label among itself and its neighbors) — the
    * standard distributed CC shape (cf. large-star/small-star,
    * Kiveris et al.). Each round is one join + one aggregation, both
    * hash-partitioned on node id; rounds needed = component diameter,
    * which for dedup clusters is tiny. The driver loop only
    * orchestrates jobs and checks convergence counts — per-row work
    * stays distributed.
    *
    * Returns (node, cluster_id) — one row per id in `nodes` — where
    * cluster_id = min id in the component. Edge endpoints absent from
    * `nodes` still CONNECT components (and can supply the min label);
    * they just don't appear as output rows. Converges exactly (loop
    * ends when no label changes); throws if maxIter rounds are
    * insufficient rather than returning a half-propagated clustering.
    */
  def connectedComponents(nodes: DataFrame, idCol: String, edges: DataFrame,
                          srcCol: String, dstCol: String,
                          maxIter: Int = 30): DataFrame = {
    val sc = nodes.sparkSession.sparkContext
    // localCheckpoint each round: persist alone caches DATA but the
    // logical plan still nests the entire iteration history, so
    // analysis/optimization cost grows geometrically with rounds —
    // lineage truncation is mandatory for iterative dataflow. The
    // checkpoint blocks of round i-1 are dead once round i
    // materializes; without an explicit release, executor storage
    // grows linearly with rounds. localCheckpoint exposes no public
    // unpersist handle, but the checkpointed Dataset's plan IS a
    // LogicalRDD wrapping the persisted RDD — release exactly that id.
    // (No context-wide snapshot diff: a diff could capture a
    // concurrently-registered RDD, and unpersisting someone else's
    // localCheckpoint destroys its only replica — lineage is truncated,
    // so that is a correctness loss, not just a recompute.)
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val out = df.localCheckpoint()
      val ids = out.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      (out, ids)
    }
    def release(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    // Iterate ONLY over edge-touched nodes: a node with no edge keeps
    // label = self forever, so singletons never enter the loop. In a
    // dedup pipeline the candidate graph is orders of magnitude smaller
    // than the corpus (millions of near-dup pairs vs billions of docs);
    // looping over every doc's label would shuffle the full corpus once
    // per round. Singletons are re-attached with one anti-join at the
    // end. The active set is ALL edge endpoints — endpoints outside
    // `nodes` still propagate labels (two nodes connected only through
    // an out-of-`nodes` intermediary share a component); the contract
    // that only ids present in `nodes` appear in the output is enforced
    // by one semi-join at output time, not at seed time.
    val allNodes = nodes.select(col(idCol).as("node"))
    val (symRaw, symIds) = checkpointTracked(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
        .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b"))))
    // Right-size the loop's fan-out from the MATERIALIZED edge count,
    // not the core count: every round pays per-task fixed costs (AQE
    // keeps ~defaultParallelism reduce partitions under
    // parallelismFirst, and the checkpoint RDD's partitioning feeds
    // every later map stage), so a tiny candidate graph on a wide
    // cluster runs diameter × width tiny tasks — measured 2.4× slower
    // at local[32] vs local[8] on the same 166 k-edge graph. Small
    // graphs get a fixed latency floor (≤8 — per-round barriers
    // dominate, but 1 partition serializes the join compute, the R3
    // negative result); big graphs grow by rows. coalesce() is narrow
    // (no re-shuffle of the already-checkpointed blocks), and count()
    // on a checkpointed frame is a cache scan, not a recompute.
    val loopParts = GraftSession.loopParts(nodes.sparkSession, symRaw.count())
    val sym = symRaw.coalesce(loopParts)
    // The rounds' own exchanges (join + min-agg reduce sides) must
    // follow the same sizing: AQE under parallelismFirst pins them to
    // ~defaultParallelism regardless of bytes, so the override is
    // scoped (set/restored) around the loop's job submissions — all
    // planning for the iteration happens inside this function. The
    // engine contract is one logical query per session at a time, so
    // the scoped conf cannot leak into a concurrently-planned plan.
    val finalLabels = GraftSession.withConf(nodes.sparkSession,
        "spark.sql.shuffle.partitions" -> loopParts.toString) {
    // initialization folds the FIRST propagation step in for free:
    // label(v) = min(v, min neighbor) needs exactly the same groupBy
    // that the distinct endpoint set needs, so round 1 starts one step
    // ahead without an extra join or shuffle
    var (labels, labelIds) = checkpointTracked(
      sym.groupBy(col("a")).agg(min(col("b")).as("__mn"))
        .select(col("a").as("node"),
          least(col("a"), col("__mn")).as("label"))
        .coalesce(loopParts))
    // convergence check: labels only ever DECREASE (min-propagation),
    // so the clustering is converged exactly when Σ labels stops
    // falling — one tiny aggregate per round instead of a join+count.
    // (Sum as DECIMAL so node-id sums cannot overflow at any scale.)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("label").cast("decimal(38,0)"))).head()
        .getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d // empty active set
    }
    var prevSum = labelSum(labels)
    var i = 0
    var converged = false
    // One propagation step: adopt the min of {own label, neighbors'
    // labels, label(label(v))}. The label-of-label "pointer jump" makes
    // long chains halve each step — plain neighbor propagation needs
    // diameter-many rounds, and Hamming-ball chains in near-dup graphs
    // reach diameter 12+ (measured 13 rounds at sf0.1 without the
    // jump). label(v) is always an active-set id, so the inner
    // self-join keeps every row. (An augmented-graph variant folding the
    // jump into the edge list — sym ∪ node↔label edges, one join per
    // step — measured ~1.5× SLOWER here: the label edges make the graph
    // depend on the un-materialized inner step of each two-step round,
    // defeating exchange reuse.)
    def step(l: DataFrame): DataFrame = {
      val nbrLabels = sym.join(l, sym("b") === l("node"))
        .select(col("a").as("node"), col("label"))
      val jump = l.select(col("node"), col("label").as("__via"))
        .join(l.select(col("node").as("__via2"), col("label")),
          col("__via") === col("__via2"))
        .select(col("node"), col("label"))
      l.unionByName(nbrLabels).unionByName(jump)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
    }
    while (!converged && i < maxIter) {
      // two steps per materialized round: the per-round fixed cost
      // (checkpoint job + convergence aggregate + adaptive re-planning)
      // dominates on sparse graphs, so amortize it over two
      // propagation steps; lineage depth stays bounded at 2
      // exactly TWO steps per materialized round: one step wastes the
      // fixed round cost (checkpoint + convergence agg + replanning);
      // THREE nests the un-materialized middle step into 4 references
      // whose re-evaluation exchange reuse does not fully dedupe —
      // measured 10× slower at sf0.1
      val (next, nextIds) = checkpointTracked(step(step(labels)).coalesce(loopParts))
      val nextSum = labelSum(next)
      release(labelIds) // round i-1 blocks are dead now that `next` is live
      labels = next
      labelIds = nextIds
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"[cc] converged in $i rounds")
    release(symIds) // labels is checkpointed; the edge blocks are dead too
    labels
    }
    // output contract: only ids present in `nodes` (out-of-`nodes`
    // endpoints participated in propagation above but are dropped here).
    // These joins are planned at the CALLER's action, after the restore,
    // so they run at the session's own fan-out against the corpus-sized
    // `nodes` side.
    val members = finalLabels.join(allNodes, Seq("node"), "left_semi")
    val singletons = allNodes.join(finalLabels.select(col("node")), Seq("node"), "left_anti")
      .withColumn("label", col("node"))
    members.unionByName(singletons)
      .select(col("node"), col("label").as("cluster_id"))
  }

  /** Blocked edit-distance near-dup pairs: candidate pairs share a
    * blocking key (cheap, high-recall grouping — a token, a length
    * bucket, a phonetic code), and only those verify with a
    * BOUNDED Levenshtein (`levenshtein(a, b, maxDist)` early-exits the
    * DP once the bound is exceeded: O(maxDist·len), not O(len²)).
    *
    * The classic fuzzy-matching shape for short strings (names,
    * titles, addresses) where token-set methods (minhash/jaccard) are
    * too coarse. Pairs are emitted once (valA < valB); inputs should be
    * pre-deduped to distinct values — at scale the distinct() is the
    * point: verify once per VALUE pair, not per row pair.
    *
    * One shuffle on the block key; within a block the pair join is
    * quadratic, so blocks must be bounded (the caller's key choice) —
    * same contract as every blocking-based entity-resolution system.
    */
  def editDistancePairs(df: DataFrame, strCol: String, blockKey: Column,
                        maxDist: Int): DataFrame = {
    val vals = df.select(col(strCol).as("val_a"), blockKey.as("__blk")).distinct()
    val right = vals.select(col("val_a").as("val_b"), col("__blk"))
    vals.join(right, Seq("__blk"))
      .filter(col("val_a") < col("val_b"))
      .withColumn("dist", levenshtein(col("val_a"), col("val_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("val_a"), col("val_b"), col("dist"))
  }
}
