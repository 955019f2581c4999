package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.exprs

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Built from codegen'd
  * higher-order array functions — no UDFs, no driver-side loops.
  *
  * Scale design: exact dedup is one hash-shuffle on the fingerprint.
  * MinHash LSH shuffles once on (band, bandHash) buckets — candidate
  * pairs only ever materialize within a bucket, never the O(n²) cross
  * product. SimHash is map-only per document; near-dup pairing joins on
  * rotated prefixes (pigeonhole over bit blocks).
  */
object Dedup {

  // ---------------- shingling ----------------

  /** Whitespace tokens of the canonical (lower, collapsed) form. */
  def tokens(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** Word n-gram shingles: array of space-joined n-token windows.
    * Documents shorter than n tokens yield a single whole-text shingle.
    */
  def shingles(text: Column, n: Int): Column =
    // the outer 1-element transform BINDS the token array to a lambda
    // variable, so the tokenizing regexp split runs ONCE per row —
    // inlining `tokens(text)` directly would re-evaluate it inside
    // every slice of the inner lambda (once per shingle: O(tokens²)
    // regexp work per document; measured 9.0 → 2.6 s on the sf0.1
    // profile pass, and every shingle consumer in the engine shares
    // this expression)
    transform(array(tokens(text)), toks => {
      val cnt = size(toks)
      when(cnt <= n, array(array_join(toks, " ")))
        .otherwise(transform(sequence(lit(0), cnt - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
    }).getItem(0)

  // ---------------- exact ----------------

  /** Exact dedup: group by content fingerprint, keep the lowest id as
    * representative. One shuffle on the (short) fingerprint, map-side
    * partial aggregation — the canonical 100 TB-safe shape.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---------------- MinHash + LSH ----------------

  /** MinHash signature frame: `(doc_id, sig)`, one array of `numHashes`
    * longs per doc, map-only. This is also the PERSISTED FINGERPRINT
    * STORE shape for [[incrementalCandidates]]: 8·numHashes bytes per
    * document, text-free — bands are derived projections of the
    * signature, so nothing else needs storing.
    */
  def signatureStore(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, numHashes: Int = 16): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      exprs.minhash_sig(col(textCol), shingleN, numHashes).as("sig"))

  /** Band-explode a signature frame into narrow `(doc_id, band,
    * band_hash)` rows — the only columns the bucket join ever shuffles.
    */
  private def bandRows(sig: DataFrame, numHashes: Int,
                       rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    // carry a block column when the caller's signature frame has one
    // (blocked candidate generation, r15) — the band projection stays
    // byte-identical in the unblocked case
    val carry = if (sig.columns.contains("__blk"))
      Seq(col("doc_id"), col("__blk")) else Seq(col("doc_id"))
    sig.select(carry :+
      posexplode(transform(sequence(lit(0), lit(numBands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1,
          lit(rowsPerBand))))): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** Joins `side`'s `value` column, keyed by its `doc_id`, onto both
    * ends of an (id_a, id_b) pair frame as `<value>_a` and `<value>_b`:
    * the wide column crosses the wire once per pair side, keyed by id.
    */
  private[functions] def joinPairSides(pairs: DataFrame, side: DataFrame,
                                       value: String): DataFrame =
    pairs
      .join(side.select(col("doc_id").as("id_a"),
        col(value).as(value + "_a")), Seq("id_a"))
      .join(side.select(col("doc_id").as("id_b"),
        col(value).as(value + "_b")), Seq("id_b"))

  /** LSH banding: candidate pairs = docs sharing at least one band hash
    * (bands of `rowsPerBand` signature entries). Output one row per
    * candidate pair (id_a < id_b), with the signature-estimated Jaccard.
    *
    * Shuffle shape: the band self-join moves only (doc_id, band,
    * band_hash); pairs collapse to distinct (id_a, id_b) and the two
    * signatures are joined back once, keyed by id — not once per band —
    * for the estimate. (Same narrow-bucket-join trick as
    * [[graft.functions.Similarity.embeddingNearDupsLsh]].)
    */
  def minHashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 16,
                        rowsPerBand: Int = 2,
                        blockCol: Option[String] = None): DataFrame = {
    // The signature frame is referenced THREE times in one action (the
    // band-rows side plus the two per-id join-backs), and minhash_sig
    // is the expensive part of the plan — a full shingle+hash pass per
    // evaluation. A lazy localCheckpoint materializes the signatures
    // exactly once on first use and serves all three references from
    // the persisted blocks (GC-cleaned by the context cleaner, so
    // nothing lingers in the cache manager — the same hygiene argument
    // as [[Graph.components]]'s per-round checkpoints). Measured on
    // the 500k-doc training-mix corpus this is the difference between one
    // and three corpus-wide text passes in the dedup stage. Trade-off
    // (accepted repo-wide): checkpointed partitions lost to executor
    // failure are not lineage-recoverable; the stage re-runs instead.
    // blockCol: restrict candidates to WITHIN-block pairs by keying
    // the bucket join on (block, band, band_hash) — for callers whose
    // output is block-local anyway (per-source routing), this prunes
    // the cross-block candidate mass BEFORE the join's shuffle instead
    // of filtering it after (provably output-identical there: blocked
    // candidates = unblocked ∩ same-block). None (the default) leaves
    // the plan byte-identical to the unblocked shape.
    // r15: in block mode the block column is computed ON the signature
    // frame (one projection of `docs`) and CARRIED through the bucket
    // join, the pair distinct and the output — the former corpus-sized
    // (doc_id → block) join is gone, and callers that need the pair's
    // block (per-source routing) read the emitted `__blk` instead of
    // re-joining a source map per side. Every candidate pair is
    // same-block by construction, so __blk is functionally dependent
    // on id_a and the distinct's cardinality is unchanged.
    val sig = (blockCol match {
      case Some(bc) => docs.select(
        col(idCol).as("doc_id"), col(bc).cast("string").as("__blk"),
        exprs.minhash_sig(col(textCol), shingleN, numHashes).as("sig"))
      case None => signatureStore(docs, idCol, textCol, shingleN,
        numHashes)
    }).localCheckpoint(eager = false)
    val banded = bandRows(sig, numHashes, rowsPerBand)
    val joinKeys = blockCol match {
      case Some(_) => Seq("__blk", "band", "band_hash")
      case None => Seq("band", "band_hash")
    }
    val aCols = joinKeys.map(col) :+ col("doc_id").as("id_a")
    val bCols = joinKeys.map(col) :+ col("doc_id").as("id_b")
    val a = banded.select(aCols: _*)
    val b = banded.select(bCols: _*)
    val blkOut = blockCol.map(_ => col("__blk")).toSeq
    val pairs = a.join(b, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .select(Seq(col("id_a"), col("id_b")) ++ blkOut: _*)
      .distinct()
    joinPairSides(pairs, sig, "sig")
      .select(Seq(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard")) ++
        blkOut: _*)
  }

  /** Incremental dedup: candidates for a NEW batch against itself AND a
    * persisted [[signatureStore]] of all previously-ingested documents —
    * the daily-ingestion shape at 100 TB, where historical TEXT is never
    * rescanned (only its 128-byte/doc signature store is read) and
    * history-vs-history pairs are never re-derived.
    *
    * Output: one row per surviving candidate, oriented so `doc_id` is
    * always a NEW document — `dup_of` is the partner to keep (a history
    * doc, or the lower-id member of a new-new pair), `dup_source` says
    * which ('history' | 'batch'), `est_jaccard` is the signature
    * estimate, thresholded at `minEst`.
    */
  def incrementalCandidates(newSig: DataFrame, histSig: DataFrame,
                            numHashes: Int = 16, rowsPerBand: Int = 2,
                            minEst: Double = 0.5): DataFrame = {
    val tagged = newSig.select(col("doc_id"), col("sig"),
        lit(true).as("is_new"))
      .unionByName(histSig.select(col("doc_id"), col("sig"),
        lit(false).as("is_new")))
    val banded = bandRows(tagged, numHashes, rowsPerBand)
      .join(tagged.select(col("doc_id"), col("is_new")), Seq("doc_id"))
    val a = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("id_a"), col("is_new").as("new_a"))
    val b = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("id_b"), col("is_new").as("new_b"))
    val oriented = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      // hist-hist pairs were resolved in the run that ingested them
      .filter(col("new_a") || col("new_b"))
      .select(
        when(col("new_a") && !col("new_b"), col("id_a"))
          .otherwise(col("id_b")).as("doc_id"),
        when(col("new_a") && !col("new_b"), col("id_b"))
          .otherwise(col("id_a")).as("dup_of"),
        when(col("new_a") =!= col("new_b"), lit("history"))
          .otherwise(lit("batch")).as("dup_source"))
      .distinct()
    val sigs = tagged.select(col("doc_id"), col("sig"))
    oriented
      .join(sigs.select(col("doc_id"), col("sig").as("sig_a")),
        Seq("doc_id"))
      .join(sigs.select(col("doc_id").as("dup_of"), col("sig").as("sig_b")),
        Seq("dup_of"))
      .withColumn("est_jaccard",
        estJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= minEst)
      .select("doc_id", "dup_of", "dup_source", "est_jaccard")
  }

  /** Signature-agreement estimate of Jaccard similarity, emitted
    * directly on the 4-decimal grid (OVERFLOW_AUDIT r14): matches and
    * numHashes are exact ints, so the half-up quantization is integer
    * arithmetic — half_up(k/n · 10⁴) = (2k·10⁴ + n) div (2n) — followed
    * by ONE exact division. No round(DOUBLE, n) tail, so the value is
    * build-invariant across engines. The subtraction of pmod makes the
    * long→double division exact (numerator divisible by denominator).
    */
  def estJaccard(sigA: Column, sigB: Column): Column = {
    val k = aggregate(zip_with(sigA, sigB,
      (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), _ + _)
    val num = k * lit(20000L) + size(sigA).cast("long")
    val den = size(sigA).cast("long") * lit(2L)
    ((num - pmod(num, den)) / den) / lit(10000.0)
  }

  // ---------------- n-gram Jaccard (exact, blocked) ----------------

  /** Exact Jaccard over word-shingle sets for candidate pairs produced by
    * MinHash LSH (never all-pairs). Returns pairs with jaccard >= minSim.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, minSim: Double = 0.5,
                        numHashes: Int = 16,
                        rowsPerBand: Int = 2): DataFrame = {
    val cands = minHashCandidates(docs, idCol, textCol, shingleN,
      numHashes, rowsPerBand).select("id_a", "id_b")
    val sets = docs.select(col(idCol).as("doc_id"),
      exprs.shingle_hashes(col(textCol), shingleN).as("sh"))
    joinPairSides(cands, sets, "sh")
      // exact-grid 4-dp Jaccard from the integer overlap (OVERFLOW_AUDIT
      // r14): ic and the set sizes are exact ints, so the quantization
      // is integer half-up + one exact division — no round(DOUBLE, n)
      // tail. Empty∧empty pairs keep sorted_array_jaccard's 1.0.
      .withColumn("ic", exprs.sorted_array_overlap(col("sh_a"),
        col("sh_b")))
      .withColumn("jaccard",
        when(size(col("sh_a")) === 0 && size(col("sh_b")) === 0, lit(1.0))
          .otherwise(ExactGrid.eRatio(col("ic"),
            size(col("sh_a")).cast("long") + size(col("sh_b")) - col("ic"),
            10000L)))
      .filter(col("jaccard") >= minSim)
      .select("id_a", "id_b", "jaccard")
  }

  /** Oracle-mirrorable n-gram Jaccard: candidates from deterministic
    * token-count blocking (same bucket ⇒ compared) instead of MinHash
    * banding, and STRING shingle sets instead of hashes — every step is
    * reproducible in plain SQL. Use [[ngramJaccardPairs]] at scale;
    * this variant exists so the Jaccard computation itself is
    * hash-checked against an independent engine.
    */
  def ngramJaccardBlocked(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, minSim: Double = 0.5,
                          blockWidth: Int = 10): DataFrame = {
    val sets = docs.select(
      col(idCol).as("doc_id"),
      floor(size(tokens(col(textCol))) / blockWidth).as("block"),
      array_distinct(shingles(col(textCol), shingleN)).as("sh"))
    val a = sets.select(col("block"), col("doc_id").as("id_a"),
      col("sh").as("sh_a"))
    val b = sets.select(col("block"), col("doc_id").as("id_b"),
      col("sh").as("sh_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", ExactGrid.eRatio(
        size(array_intersect(col("sh_a"), col("sh_b"))),
        size(array_union(col("sh_a"), col("sh_b"))), 10000L))
      .filter(col("jaccard") >= minSim)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-SUBSET duplicate pairs: containment of the smaller shingle set
    * in the larger — `|A∩B| / min(|A|,|B|)` — over MinHash-LSH candidate
    * pairs. Symmetric Jaccard under-scores a short doc embedded whole in
    * a long one by the length ratio (a 100-shingle quote inside a
    * 2000-shingle page has Jaccard ≈ 0.05 but containment 1.0); this is
    * the standard screen for quote/excerpt/boilerplate-wrapped copies.
    *
    * Scale shape: identical to [[ngramJaccardPairs]] — narrow
    * (band, band_hash) candidate generation, distinct (id_a, id_b),
    * shingle-hash sets joined back once keyed by id, and the
    * intersection counted by the linear-merge native expression
    * ([[graft.expressions.SortedArrayOverlap]]) — no per-pair array
    * materialization beyond the two sorted sets.
    *
    * Recall caveat (documented, inherent): band agreement is driven by
    * JACCARD, so a tiny-doc-in-huge-doc pair with high containment but
    * Jaccard below the LSH threshold can be missed; catching those needs
    * asymmetric candidate generation (e.g. banding the small side's full
    * signature against prefix signatures of the large side). The common
    * curation case — near-dup pages sharing most content plus chrome —
    * sits in the high-Jaccard regime the bands do catch.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, minCont: Double = 0.6,
                       numHashes: Int = 16,
                       rowsPerBand: Int = 2): DataFrame = {
    val cands = minHashCandidates(docs, idCol, textCol, shingleN,
      numHashes, rowsPerBand).select("id_a", "id_b")
    val sets = docs.select(col(idCol).as("doc_id"),
      exprs.shingle_hashes(col(textCol), shingleN).as("sh"))
    joinPairSides(cands, sets, "sh")
      .withColumn("containment", ExactGrid.eRatio(
        exprs.sorted_array_overlap(col("sh_a"), col("sh_b")),
        least(size(col("sh_a")), size(col("sh_b"))), 10000L))
      .filter(col("containment") >= minCont)
      .select("id_a", "id_b", "containment")
  }

  /** PPJoin-style prefix-filtered set-similarity self-join (Xiao et al.,
    * WWW'08 "Efficient Similarity Joins for Near Duplicate Detection"):
    * exact word-`shingleN`-gram Jaccard >= `minSim` pairs WITHOUT
    * MinHash — the deterministic, zero-false-negative alternative to
    * LSH banding (LSH trades a small miss rate for fewer candidates;
    * this trades a bigger candidate join for exactness).
    *
    * Prefix filtering: order each document's distinct shingles by
    * global rarity (document frequency asc, shingle asc) and keep only
    * the first `|x| - ceil(minSim·|x|) + 1` as its candidate-generating
    * prefix; two sets with Jaccard >= minSim MUST share a prefix
    * element, so the equi-join on prefix shingles is lossless.
    * Rare-first ordering makes prefixes join on the LOW-frequency end
    * of the shingle space — the boilerplate head that would explode a
    * naive join never enters a prefix.
    *
    * Scale shape: df is one narrow shingle rollup; per-doc prefix
    * ranking is a doc-partitioned window (bounded by doc length); the
    * candidate join shuffles only (prefix_shingle, doc_id) pairs;
    * verification joins shingle sets for candidate pairs only (at
    * 100 TB you'd join on xxhash64 of the shingle — the string key
    * keeps the oracle trivially mirrorable). Integer-exact jac_ppm.
    */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
                        minSim: Double = 0.5,
                        shingleN: Int = 3,
                        blockCol: Option[String] = None): DataFrame = {
    // OPTIMIZATION r14 — same outputs, 3 fewer corpus-wide shuffles:
    //  - per-doc shingle dedup is ROW-LOCAL (doc_id rides on every
    //    row), so `array_distinct` inside the row replaces the global
    //    (doc_id, token) `.distinct()` shuffle;
    //  - the per-doc rarity ranking collapses into ONE rollup that
    //    collects each doc's (df, token) pairs SORTED (sort_array over
    //    structs = exactly the old window's (df asc, token asc)
    //    order), so prefix positions fall out of a slice of the array
    //    and the separate size rollup + doc-partitioned row_number
    //    window disappear;
    //  - the verification sets are a projection of the SAME per-doc
    //    array (array_intersect is order-insensitive), so the old
    //    second collect_list rollup disappears too.
    // r15: in block mode the block column rides ON the token rows and
    // through the per-doc rollup (groupBy (doc_id, __blk) — same
    // groups, __blk is a function of doc_id), so the former
    // corpus-sized (doc_id → block) join is gone and the output can
    // carry the pair's block directly. The unblocked plan is
    // byte-identical to before.
    val blkSel = blockCol.map(bc =>
      col(bc).cast("string").as("__blk")).toSeq
    val blkRef = blockCol.map(_ => col("__blk")).toSeq
    val tk = docs.filter(length(trim(col(textCol))) > 0)
      .select(Seq(col(idCol).as("doc_id")) ++ blkSel :+
        explode(array_distinct(shingles(col(textCol), shingleN)))
          .as("token"): _*)
    val df = tk.groupBy("token").agg(count(lit(1)).as("df"))
    val docp = tk.join(df, Seq("token"))
      .groupBy(col("doc_id") +: blkRef: _*)
      .agg(sort_array(collect_list(struct(col("df"), col("token"))))
        .as("arr"))
      .select(Seq(col("doc_id")) ++ blkRef ++ Seq(
        size(col("arr")).cast("long").as("sz"), col("arr")): _*)
    val pref = docp
      .select(Seq(col("doc_id")) ++ blkRef ++ Seq(col("sz"),
        posexplode(slice(col("arr"), lit(1),
          (col("sz") - ceil(lit(minSim) * col("sz")) + 1).cast("int")))): _*)
      .select(Seq(col("doc_id"), col("col.token").as("token"),
        col("sz"), (col("pos") + 1).as("pos")) ++ blkRef: _*)
    // PPJoin length filter inside the bucket join (lossless: Jaccard
    // >= s forces s·|x| <= |y|) — prunes size-incompatible pairs
    // before they reach the distinct. NOTE the measured trade on this
    // fixture (BENCH_NOTES r6): with a CLOSED 31-word vocabulary,
    // prefix buckets grow linearly with the corpus and candidates
    // quadratically (409k @5k docs → 45M @50k) — the adversarial floor
    // for any exact prefix scheme. Open-vocabulary corpora keep
    // buckets df-bounded; for dense/closed vocabularies the scale path
    // is MinHash-LSH ([[ngramJaccardPairs]]), which trades the miss
    // rate for bucket caps.
    // the bucket join keys on xxhash64(shingle), not the string: 8
    // bytes through the engine's heaviest shuffle instead of an n-word
    // text key. A hash collision can only ADD a candidate (equal
    // strings always hash equal), and the exact verify below removes
    // it — the zero-false-negative contract is hash-proof.
    // blockCol: key the candidate join on (block, tkh) so cross-block
    // candidates are pruned BEFORE the shuffle — for block-local
    // outputs (per-source routing) this is output-identical (the
    // prefix filter is lossless under any global df order, and
    // blocked candidates ⊇ every same-block true pair) while dropping
    // the dominant cross-block share of the quadratic candidate mass.
    // None (the default) leaves the plan byte-identical.
    val prefH = pref.select(Seq(xxhash64(col("token")).as("tkh"),
      col("doc_id"), col("sz"), col("pos")) ++ blkRef: _*)
    val candKeys = blockCol match {
      case Some(_) => Seq("__blk", "tkh")
      case None => Seq("tkh")
    }
    val aSel = candKeys.map(col) ++
      Seq(col("doc_id").as("id_a"), col("sz").as("za"),
        col("pos").as("pa"))
    val bSel = candKeys.map(col) ++
      Seq(col("doc_id").as("id_b"), col("sz").as("zb"),
        col("pos").as("pb"))
    // PPJoin positional filter (Xiao et al. WWW'08 §3.2, VERDICT r11
    // #2): a token shared at sorted positions (pa, pb) bounds the
    // whole-set overlap by ub = min(pa−1, pb−1) + 1 + min(za−pa,
    // zb−pb) — tokens before it in each set are strictly smaller in
    // the global df order, tokens from it on number za−pa+1 / zb−pb+1.
    // The bound holds at EVERY shared prefix token, so the per-pair
    // aggregate takes the MIN over them (the same groupBy that used to
    // be the dedup distinct — one int wider, no extra shuffle) and
    // keeps the pair only if the bound can still reach the Jaccard
    // threshold: jac ≥ s ⟺ O·(1e6+s_ppm) ≥ s_ppm·(za+zb), and
    // ub ≥ O, so pruning on ub·(1e6+s_ppm) < s_ppm·(za+zb) is
    // lossless (exact integer test — no float slop on either side).
    // Verification work drops by the pruned share: the pairs killed
    // here never pay the sorted-set intersection below.
    val sPpm = math.round(minSim * 1000000)
    // block mode groups by (__blk, id_a, id_b) — same groups (every
    // candidate pair is same-block and __blk is a function of id_a),
    // so the positional-filter aggregate is unchanged; the block rides
    // through to the output.
    val cand = prefH.select(aSel: _*)
      .join(prefH.select(bSel: _*), candKeys)
      .filter(col("id_a") < col("id_b") &&
        col("zb") * lit(minSim) <= col("za") &&
        col("za") * lit(minSim) <= col("zb"))
      .groupBy(blkRef ++ Seq(col("id_a"), col("id_b")): _*)
      .agg(min(least(col("pa"), col("pb")) +
        least(col("za") - col("pa"), col("zb") - col("pb"))).as("ub"),
        min("za").as("za"), min("zb").as("zb"))
      .filter(col("ub") * lit(1000000L + sPpm) >=
        lit(sPpm) * (col("za") + col("zb")))
      .select(Seq(col("id_a"), col("id_b")) ++ blkRef: _*)
    // verify per-pair with a single codegen'd set intersection over the
    // per-doc shingle sets — two narrow id-keyed joins instead of
    // re-exploding every candidate's shingles through a (pair, token)
    // shuffle. The sets are the token projection of the SAME per-doc
    // array the prefixes came from (rarity order, not lexicographic —
    // array_intersect is order-insensitive, ic is a set size); the
    // shared docp subtree's exchange is reused by the physical planner.
    // Every candidate shares a prefix shingle, so ic >= 1.
    val sets = docp.select(col("doc_id"),
      expr("transform(arr, e -> e.token)").as("sh"))
    val minPpm = math.round(minSim * 1000000).toString
    joinPairSides(cand, sets, "sh")
      .withColumn("ic",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jac_ppm",
        expr("(ic * 1000000L) div (size(sh_a) + size(sh_b) - ic)"))
      .filter(col("jac_ppm") >= expr(minPpm + "L"))
      .select(Seq(col("id_a"), col("id_b"), col("ic"),
        col("jac_ppm")) ++ blkRef: _*)
  }

  /** The df-profile sampling defaults: a corpus (per source, a source)
    * above `ProfileSampleCutoff` docs is profiled on a
    * 1/`ProfileSampleMod` xxhash64(doc_id) slice. The auto-route
    * oracles read these names too.
    */
  val ProfileSampleCutoff: Long = 8192L
  val ProfileSampleMod: Int = 16

  /** The measured routing dial (VERDICT r9 #6), per source: the
    * SIZE-BIASED mean shingle document frequency Σdf²/Σdf of every
    * source in ONE sampled profile pass — `(source, load)` out. The
    * statistic is the expected bucket population seen by a random
    * posting, i.e. the direct driver of prefix-bucket candidate mass.
    * On a CLOSED vocabulary the type count plateaus while postings
    * grow, so it grows ~linearly with the corpus (measured on the
    * driver fixture: 2.1 at 500 docs → 10.7 at 5k; candidates
    * quadratic — the r6 adversarial floor, 44.9M pairs at 50k). On an
    * OPEN (natural, Zipf-tailed) vocabulary types grow with the corpus
    * and the statistic stays flat (measured 3.2 at the 50k open-vocab
    * fixture, stable across the 5k→500k decades where the prefix path
    * tracks true pair mass). The routing threshold 8 sits between the
    * two measured regimes, and because the trends DIVERGE with scale,
    * misrouting risk shrinks exactly where the corpora get big.
    *
    * Cost: a source above `sampleCutoff` docs is profiled on a
    * DETERMINISTIC 1/`sampleMod` xxhash64(doc_id) slice and the
    * expectation inverted exactly — under doc-sampling at rate q,
    * E[Σdf_s²/Σdf_s] = q·sbm + (1−q), so est = 1 + (s−1)·mod — which
    * keeps the dial at gate-fixture cost at any corpus size (measured:
    * the full profile was 48 s of a 50 s routed run at 50k docs; the
    * slice is ~2 s). At or below the cutoff the full profile runs
    * (mod 1 — the same formula, exactly). The per-source doc counts
    * come from one narrow rollup (sources are a bounded enum; the
    * frame broadcasts).
    *
    * The realistic crawl shape is MIXED: a closed-vocabulary core
    * (forum boilerplate, templated listings) plus an open-vocabulary
    * tail, and a single corpus-global dial mis-serves one half. The
    * corpus-global dial is this one over a single constant source
    * column.
    *
    * EVERY source emits a row — a source whose sampled slice is empty
    * (or whose docs are all blank) comes back with load 0.0 (cold →
    * the exact path), so callers read the full source list AND the
    * loads from this one frame: routing costs exactly one metadata
    * rollup plus the sampled profile pass (ADVICE r11 — the former
    * extra `distinct().collect()` source scan is gone). The source
    * key is cast to string here (matching the oracle and the callers'
    * route maps), so a non-string source column keys identically in
    * every path.
    */
  def sizeBiasedMeanDfBySource(docs: DataFrame, idCol: String,
                               textCol: String, sourceCol: String,
                               shingleN: Int = 3,
                               sampleCutoff: Long = ProfileSampleCutoff,
                               sampleMod: Int = ProfileSampleMod)
      : DataFrame = {
    // sources-sized (bounded enum) — checkpointed (lazily, r15: the
    // caller's collect materializes it) so the two consumers below
    // (modulus broadcast + full source list) share ONE scan of `docs`
    // instead of re-deriving the rollup twice
    val counts = docs
      .groupBy(col(sourceCol).cast("string").as("__src"))
      .agg(count(lit(1)).as("__n"))
      .select(col("__src"),
        when(col("__n") <= sampleCutoff, 1L)
          .otherwise(sampleMod.toLong).as("__m"))
      .localCheckpoint(false)
    val profiled = docs
      .join(broadcast(counts), col(sourceCol).cast("string") === col("__src"))
      .filter(pmod(xxhash64(col(idCol)), col("__m")) === 0)
      .filter(length(trim(col(textCol))) > 0)
      .select(col("__src").as("source"), col("__m"),
        col(idCol).as("doc_id"),
        // per-doc shingle dedup is row-local (optimization r14): the
        // global (doc_id, token) distinct shuffle is an in-row
        // array_distinct
        explode(array_distinct(shingles(col(textCol), shingleN)))
          .as("token"))
      .groupBy("source", "__m", "token")
      .agg(count(lit(1)).as("df"))
      .groupBy("source", "__m")
      .agg(sum("df").as("p"), sum(col("df") * col("df")).as("sq"))
      .select(col("source"),
        (lit(1.0) + (col("sq").cast("double") / col("p") - 1.0)
          * col("__m")).as("load"))
    counts.select(col("__src").as("source"))
      .join(profiled, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("load"), lit(0.0)).as("load"))
  }

  /** The routing dial's third outcome (VERDICT r10 #7): per-SOURCE
    * auto-routed similarity pairs for mixed corpora. Each source is
    * routed by ITS OWN measured dial — closed-vocab sources take the
    * banded MinHash-LSH path, open-vocab sources the exact
    * prefix-filter path — and the result is the union, restricted to
    * WITHIN-source pairs (the per-shard dedup semantics every crawl
    * pipeline uses; cross-source near-dups are a separate,
    * containment-shaped question).
    *
    * Scale shape: ONE profile pass prices every source (never a scan
    * per source), each underlying path runs ONCE over the union of
    * its routed sources (never a run per source — banding and exact
    * verification make the subset-union run pair-identical to
    * per-source runs after the same-source restriction: signatures
    * are per-doc, and the prefix filter is lossless under ANY global
    * df order), and each path's candidate join is KEYED on the source
    * (`blockCol`) — cross-source candidate mass, the dominant share
    * of the quadratic on a shared-vocabulary corpus, is pruned BEFORE
    * the shuffle instead of filtered after (measured at the sf0.1
    * 20-source fixture: 14.5 → ~2 s). The residual same-source joins
    * only attach the source column to the surviving pairs. The
    * per-source route list itself is a sources-sized collect — a
    * bounded enum, the dimension-collect discipline.
    *
    * Output: `(id_a, id_b, sim_ppm, source, route)` — exact Jaccard
    * ppm on prefix-routed sources, signature-estimated ppm on
    * banded-routed ones.
    */
  def similarityPairsAutoBySource(docs: DataFrame, idCol: String,
                                  textCol: String, sourceCol: String,
                                  minSim: Double = 0.5,
                                  shingleN: Int = 3, numHashes: Int = 16,
                                  rowsPerBand: Int = 2,
                                  hotBucketThreshold: Double = 8.0,
                                  sampleCutoff: Long = ProfileSampleCutoff,
                                  sampleMod: Int = ProfileSampleMod)
      : DataFrame = {
    // ONE sources-sized collect: the dial frame carries every source
    // (load 0.0 for empty sampled slices), so no second full-corpus
    // distinct() scan is needed for the source list (ADVICE r11)
    val loadRows = sizeBiasedMeanDfBySource(docs, idCol, textCol,
        sourceCol, shingleN, sampleCutoff, sampleMod)
      .collect()
    val loads = loadRows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val allSrcs = loadRows.map(_.getString(0))
    val bandedSrcs = allSrcs.filter(s =>
      loads.getOrElse(s, 0.0) >= hotBucketThreshold).toSeq
    val prefixSrcs = allSrcs.filterNot(bandedSrcs.contains).toSeq
    // r15 (VERDICT r14 #7): both paths key their candidate join on the
    // source block and now EMIT it (`__blk`), so the former per-branch
    // source re-attachment — two corpus-sized (doc_id → source) joins
    // per branch plus a same-source filter that could never drop a row
    // (blocked candidates are same-source by construction) — is gone.
    val minEst = math.round(minSim * 10000).toDouble / 10000
    val branches = Seq(
      if (bandedSrcs.isEmpty) None else Some(
        minHashCandidates(
          docs.filter(col(sourceCol).isin(bandedSrcs: _*)),
          idCol, textCol, shingleN, numHashes, rowsPerBand,
          blockCol = Some(sourceCol))
          .filter(col("est_jaccard") >= lit(minEst))
          .select(col("id_a"), col("id_b"),
            round(col("est_jaccard") * 1000000).cast("long")
              .as("sim_ppm"), col("__blk").as("source"))
          .withColumn("route", lit("banded"))),
      if (prefixSrcs.isEmpty) None else Some(
        prefixFilterPairs(
          docs.filter(col(sourceCol).isin(prefixSrcs: _*)),
          idCol, textCol, minSim, shingleN,
          blockCol = Some(sourceCol))
          .select(col("id_a"), col("id_b"),
            col("jac_ppm").as("sim_ppm"), col("__blk").as("source"))
          .withColumn("route", lit("prefix")))).flatten
    // Empty corpus is a degenerate input, not an error (ADVICE r12 #5):
    // return an empty frame with the output schema so callers that
    // tolerated empty input before the dual-route rewrite still do.
    if (branches.isEmpty)
      docs.sparkSession.emptyDataFrame
        .withColumn("id_a", lit(null).cast("long"))
        .withColumn("id_b", lit(null).cast("long"))
        .withColumn("sim_ppm", lit(null).cast("long"))
        .withColumn("source", lit(null).cast("string"))
        .withColumn("route", lit(null).cast("string"))
        .limit(0)
    else branches.reduce(_ unionByName _)
  }

  /** Link prediction over an undirected graph by the Resource
    * Allocation index (Zhou, Lü & Zhang, EPJ B 2009): for each
    * NON-adjacent pair (x, z) with at least one common neighbor,
    * `ra = Σ_{y ∈ N(x)∩N(z)} 1/deg(y)` — common neighbors weighted so
    * that hub intermediaries count for little. Emitted integer-exact as
    * `ra_ppm = Σ (10⁶ div deg(y))` plus the plain common-neighbor
    * count, so cross-engine comparison is bit-stable.
    *
    * Scale shape: degrees are one narrow rollup of the exploded edge
    * list; scoring is the standard wedge join (x–y ⋈ y–z, x < z) whose
    * cost is Σ deg(y)² — bounded by the candidate graph's density, which
    * upstream dedup banding already bounds; existing edges leave via one
    * anti-join on the canonical pair key.
    */
  def linkPrediction(pairs: DataFrame, aCol: String,
                     bCol: String): DataFrame = {
    val e = Graph.undirectedEdges(pairs, aCol, bCol)
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy(col("src").as("y"))
      .agg(count(lit(1)).as("deg"))
    val wedge = sym.select(col("dst").as("y"), col("src").as("x"))
      .join(sym.select(col("src").as("y"), col("dst").as("z")), Seq("y"))
      .filter(col("x") < col("z"))
    wedge.join(deg, Seq("y"))
      .groupBy(col("x").as("id_a"), col("z").as("id_b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000L div deg")).as("ra_ppm"))
      .join(e.withColumnRenamed("a", "id_a").withColumnRenamed("b", "id_b"),
        Seq("id_a", "id_b"), "left_anti")
  }

  /** Cross-document EXACT repeated spans (the substring-granularity
    * dedup of Lee et al., ACL'22 "Deduplicating Training Data Makes
    * Language Models Better"): every `spanTokens`-token window that
    * occurs in at least `minDocs` DISTINCT documents, with its document
    * reach and total occurrence count. Document-level dedup misses a
    * boilerplate paragraph pasted into thousands of otherwise-unique
    * pages; span-level catches exactly that.
    *
    * Scale shape: posexplode is map-only (per-doc fan-out bounded by
    * doc length); the rollup shuffles (span, doc_id) once with map-side
    * partial aggregation. At 100 TB the group key would be
    * `xxhash64(span)` (8 bytes vs a repeated `spanTokens`-word string)
    * with the span text carried via a min-by sample — the string key
    * here keeps the oracle a plain SQL twin.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    spanTokens: Int = 5, minDocs: Int = 2): DataFrame =
    docs
      .filter(size(tokens(col(textCol))) >= spanTokens)
      .select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), spanTokens)).as("span"))
      .groupBy("span")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)

  /** Sorted-neighborhood near-dup candidates (Hernández & Stolfo,
    * SIGMOD'95 merge/purge): within each (`lang`, `source`) block, rank
    * documents by (length, id) and compare only rows whose ranks are
    * within `window`; verify candidates with exact distinct-trigram
    * Jaccard. The classic record-linkage alternative to hash blocking:
    * near-dups have near-equal lengths, so a length-sorted walk visits
    * them adjacently with O(n·window) comparisons total.
    *
    * Scale shape: the rank window is PARTITIONED by the block keys —
    * never a corpus-global sort (at 100 TB a global SNM rank would be
    * one range-partitioned sort; blocking keys make it embarrassingly
    * parallel instead). The window self-join is an equi-join on
    * (block, rank+offset) with `window` exploded offsets — no range
    * join, no theta join. Verification joins distinct-shingle sets for
    * the O(n·window) candidates only.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
                              textCol: String, blockCols: Seq[String],
                              window: Int = 5,
                              shingleN: Int = 3,
                              minSim: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(blockCols.map(col): _*)
      .orderBy(length(col("text_c")).asc, col("doc_id").asc)
    val ranked = docs
      .filter(length(trim(col(textCol))) > 0)
      .select((blockCols.map(col) :+ col(idCol).as("doc_id") :+
        col(textCol).as("text_c")): _*)
      .withColumn("rnk", row_number().over(w))
      // three consumers (probe, build, shingle sets) — materialize once
      // instead of re-running the rank window per consumer
      .localCheckpoint(false)
    val probe = ranked
      .withColumn("off", explode(lit((1 to window).toArray)))
      .withColumn("rnk", col("rnk") + col("off"))
      .select((blockCols.map(col) :+ col("rnk") :+
        col("doc_id").as("id_a")): _*)
    val cand = probe
      .join(ranked.select((blockCols.map(col) :+ col("rnk") :+
          col("doc_id").as("id_b")): _*),
        blockCols :+ "rnk")
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val sets = ranked.select(col("doc_id"),
      array_distinct(shingles(col("text_c"), shingleN)).as("sh"))
    val minPpm = math.round(minSim * 1000000)
    joinPairSides(cand, sets, "sh")
      .withColumn("ic",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jac_ppm", expr(
        "(ic * 1000000L) div (size(sh_a) + size(sh_b) - ic)"))
      .filter(col("jac_ppm") >= minPpm)
      .select("id_a", "id_b", "ic", "jac_ppm")
  }

  /** Edit-distance near-dup pairs for SHORT text keys (titles, names,
    * leading spans): candidate pairs materialize only within an exact
    * `prefixLen`-character block, then Levenshtein over the
    * `titleLen`-character key keeps pairs at distance <= `maxDist`.
    *
    * Within a block, candidates come from a SECOND content-derived
    * blocking dimension — the PassJoin partition signature (Li, Deng
    * & Feng, VLDB 2012 "PASS-JOIN: a partition-based method for
    * similarity joins"): split the post-prefix suffix into
    * `maxDist + 1` fixed segments; if ed(a, b) <= maxDist then at
    * least one segment of b is untouched by the alignment and so
    * appears VERBATIM in a, shifted by the net indel count before it.
    * For the equal-full-length route (suffixes the same length)
    * insertions and deletions pair up, so the shift is bounded by
    * `maxDist / 2` — each doc indexes its `maxDist + 1` segments and
    * probes every valid in-bounds shifted window, and the candidate
    * join keys on (block, segment-index, segment-text). Zero false
    * negatives (the filter is a proven superset), and within-block
    * cost tracks segment diversity instead of the block's pair mass —
    * the same second-blocking-key escape that took Fellegi–Sunter
    * record linkage off the fixed-block quadratic (measured here:
    * 12x fewer DP pairs at both the 50k and 500k fixtures, 238k vs
    * 2.9M and 23.2M vs 292M). Docs whose key is SHORTER than
    * `titleLen` (truncated titles — a per-mille tail in practice)
    * take a brute-force side route against the whole block, bounded
    * by the short tail's size, with the |len| difference lower bound
    * applied before the DP.
    *
    * Shape: two narrow shuffles (segment join + pair distinct);
    * quadratic in nothing — the right tool for title/entity fuzzy
    * matching where edits cluster past the first characters. For
    * unbounded full-text near-dup, the MinHash/SimHash family is the
    * scale path (a segment here is an exact-content partition, the
    * same role LSH bands play there).
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        prefixLen: Int = 8, titleLen: Int = 40,
                        maxDist: Int = 4): DataFrame = {
    require(prefixLen <= titleLen)
    val sufLen = titleLen - prefixLen
    val nSegs = maxDist + 1
    val t = docs.select(col(idCol).cast("long").as("id"),
      substring(col(textCol), 1, titleLen).as("title"),
      substring(col(textCol), 1, prefixLen).as("blk"))
    // threshold-form Levenshtein runs the banded DP — O(len·maxDist)
    // per pair instead of O(len²), and returns -1 past the bound, so
    // the filter and the distance come from one evaluation
    def dp(pairs: DataFrame): DataFrame = pairs
      .withColumn("edit_dist",
        levenshtein(col("title_a"), col("title_b"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select("id_a", "id_b", "edit_dist")
    if (sufLen < nSegs) {
      // suffix too short to partition: the original within-block join
      val a = t.select(col("blk"), col("id").as("id_a"),
        col("title").as("title_a"))
      val b = t.select(col("blk"), col("id").as("id_b"),
        col("title").as("title_b"))
      return dp(a.join(b, Seq("blk")).filter(col("id_a") < col("id_b")))
    }
    // fixed segment layout over the suffix: the first (sufLen mod
    // nSegs) segments get the extra character
    val base = sufLen / nSegs
    val extra = sufLen % nSegs
    val segs = (0 until nSegs).map { i =>
      val len = if (i < extra) base + 1 else base
      val start = 1 + i * base + math.min(i, extra) // 1-based in suffix
      (i, start, len)
    }
    val shift = maxDist / 2 // net indels at equal total length
    val full = t.filter(length(col("title")) === titleLen)
      .withColumn("suf", substring(col("title"), prefixLen + 1, sufLen))
    // the segment join carries ONLY ids — titles would be replicated
    // (maxDist+1)x on the index side and ~(maxDist+1)(maxDist+1)x on
    // the probe side through the explode; they re-attach AFTER the
    // distinct via two narrow id-keyed joins of the (much smaller)
    // candidate frame
    val ix = full.select(col("blk"), col("id"),
      posexplode(array(segs.map { case (_, p, l) =>
        substring(col("suf"), p, l)
      }: _*)).as(Seq("si", "sg")))
    val probeKeys = segs.flatMap { case (i, p, l) =>
      (-shift to shift).collect {
        case d if p + d >= 1 && p + d + l - 1 <= sufLen =>
          struct(lit(i).as("si"),
            substring(col("suf"), p + d, l).as("sg"))
      }
    }
    val pr = full.select(col("blk"), col("id"),
        explode(array(probeKeys: _*)).as("k"))
      .select(col("blk"), col("id"),
        col("k.si").as("si"), col("k.sg").as("sg"))
    val titles = t.select(col("id").as("doc_id"), col("title"))
    val longCands = pr.select(col("blk"), col("si"), col("sg"),
        col("id").as("pid"))
      .join(ix.select(col("blk"), col("si"), col("sg"),
        col("id").as("xid")), Seq("blk", "si", "sg"))
      .filter(col("pid") =!= col("xid"))
      .select(least(col("pid"), col("xid")).as("id_a"),
        greatest(col("pid"), col("xid")).as("id_b"))
      .distinct()
    val longPairs = joinPairSides(longCands, titles, "title")
    // short-key tail: pairs where at least one side is truncated —
    // brute force against the block, |Δlen| <= maxDist pre-filter
    // the short side is a small tail by construction (truncated keys),
    // so broadcast it — the corpus-sized right side then never
    // shuffles on blk for this route
    val short = t.filter(length(col("title")) < titleLen)
    val shortPairs = broadcast(short.select(col("blk"),
        col("id").as("sid"), col("title").as("stitle")))
      .join(t.select(col("blk"), col("id").as("oid"),
        col("title").as("otitle")), Seq("blk"))
      .filter(col("sid") =!= col("oid"))
      // short×short pairs appear in both orientations; keep one.
      // short×full pairs appear once (full ids never probe here).
      .filter(length(col("otitle")) === titleLen ||
        col("sid") < col("oid"))
      .filter(abs(length(col("stitle")) - length(col("otitle")))
        <= maxDist)
      .select(
        least(col("sid"), col("oid")).as("id_a"),
        greatest(col("sid"), col("oid")).as("id_b"),
        when(col("sid") < col("oid"), col("stitle"))
          .otherwise(col("otitle")).as("title_a"),
        when(col("sid") < col("oid"), col("otitle"))
          .otherwise(col("stitle")).as("title_b"))
    dp(longPairs.unionByName(shortPairs))
  }

  // ---------------- decontamination ----------------

  /** The contamination fingerprint of an eval/test set: its distinct
    * word-`shingleN`-gram hashes. Small relative to the corpus — at
    * 100 TB this is the broadcast side.
    */
  def evalShingles(evalDocs: DataFrame, textCol: String,
                   shingleN: Int = 5): DataFrame =
    evalDocs.select(
      explode(exprs.shingle_hashes(col(textCol), shingleN)).as("sh"))
      .distinct()

  /** Test-set decontamination screen: training docs sharing at least one
    * `shingleN`-gram with the contamination set, with the count of
    * distinct contaminated shingles per doc. Map-side shingle explode +
    * (broadcastable) semi-ish join + one narrow aggregate — drop or
    * down-weight the flagged docs before training.
    */
  def contaminationHits(docs: DataFrame, idCol: String, textCol: String,
                        contamination: DataFrame,
                        shingleN: Int = 5): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(exprs.shingle_hashes(col(textCol), shingleN)).as("sh"))
    sh.join(broadcast(
        contamination.select(col(contamination.columns.head).as("sh"))
          .distinct()),
        Seq("sh"))
      .groupBy("doc_id").agg(countDistinct(col("sh")).as("n_hits"))
  }

  /** Exact-substring decontamination: corpus docs that contain any eval
    * snippet VERBATIM (the strictest leakage definition — shingle
    * overlap ([[contaminationHits]]) catches paraphrase-adjacent overlap,
    * substring match catches literal inclusion regardless of token
    * boundaries). Output one row per contaminated doc with the hit count
    * and the lowest matching snippet id.
    *
    * Scale shape: eval snippet sets are small (10³–10⁵ short strings);
    * the snippet table is broadcast and the corpus scanned once —
    * map-only + one narrow aggregate, no corpus shuffle. Per-row cost is
    * `snippets × |text|` via `instr`; beyond ~10⁵ snippets the upgrade
    * is a single Aho-Corasick automaton expression over the broadcast
    * pattern set, which makes the scan cost independent of the snippet
    * count.
    */
  // NOTE: null snippets never match (instr null semantics) and empty
  // snippets match EVERY document (instr returns 1) — feed a clean,
  // non-null, non-empty snippet set; the automaton twin
  // [[substringContaminationAC]] rejects such inputs outright.
  def substringContamination(docs: DataFrame, idCol: String,
                             textCol: String, snippets: DataFrame,
                             snippetIdCol: String,
                             snippetCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .crossJoin(broadcast(snippets.select(
        col(snippetIdCol).as("__snip_id"), col(snippetCol).as("__snip"))))
      .filter(instr(col("__text"), col("__snip")) > 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        min(col("__snip_id")).as("first_snippet_id"))

  /** [[substringContamination]] at pattern-set scale: the snippet set is
    * collected once driver-side (it is the BROADCAST-SMALL side by
    * definition — an eval set, not a corpus) and compiled into a single
    * Aho–Corasick automaton ([[graft.expressions.MultiPatternMatches]])
    * that rides the plan as a codegen reference object. One automaton
    * walk per document finds every snippet simultaneously — scan cost
    * O(|text|), independent of the snippet count, where the `instr`
    * join formulation pays O(|text| · snippets) per doc and plans as a
    * nested-loop join. Map-only except the tiny broadcast idx→id map
    * join for the reported snippet id.
    *
    * Output schema and semantics are identical to
    * [[substringContamination]] (the spec asserts row-for-row equality)
    * — this is the same operator with the physical plan you would want
    * at 10⁵ snippets.
    *
    * Precondition: snippet ids and texts must be non-null and texts
    * non-empty (enforced with `require`). A null snippet is silently
    * ignored by `instr` while an empty one matches EVERY document —
    * both degenerate inputs the automaton formulation rejects up front
    * rather than diverging on.
    */
  def substringContaminationAC(docs: DataFrame, idCol: String,
                               textCol: String, snippets: DataFrame,
                               snippetIdCol: String,
                               snippetCol: String): DataFrame = {
    val rows = snippets
      .select(col(snippetIdCol).cast("long"), col(snippetCol).cast("string"))
      .collect()
      .map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1) && r.getString(1).nonEmpty,
          "substringContaminationAC requires non-null, non-empty " +
            "snippets (an empty snippet would match every document via " +
            "instr but is droppable by the automaton — reject instead " +
            "of diverging)")
        (r.getLong(0), r.getString(1))
      }
      .sortBy(_._1)
    val patterns = rows.map(_._2)
    val m = exprs.multi_pattern_matches(col(textCol), patterns)
    val hits = docs
      .select(col(idCol).as("doc_id"), m.as("__m"))
      .filter(size(col("__m")) > 0)
      // indices ascending + patterns sorted by snippet id ⇒ element 0
      // maps to the lowest matching snippet id
      .select(col("doc_id"), size(col("__m")).cast("long").as("n_hits"),
        col("__m")(0).as("__first_idx"))
    val session = docs.sparkSession
    import session.implicits._
    val idMap = rows.map(_._1).zipWithIndex
      .map { case (id, i) => (i, id) }.toSeq
      .toDF("__first_idx", "first_snippet_id")
    hits.join(broadcast(idMap), Seq("__first_idx"))
      .select("doc_id", "n_hits", "first_snippet_id")
  }

  /** Content-defined chunking: chunk boundaries where the TOKEN's
    * xxhash64 has `maskBits` low zero bits — boundaries depend only on
    * local content, so an insertion or deletion re-chunks ONLY its own
    * neighborhood (fixed-stride chunking, cf. the boilerplate detector,
    * shifts every later chunk and misses all downstream matches). The
    * expected chunk length is `2^maskBits` tokens; fingerprints are md5
    * of the chunk's token span — shared chunks across documents survive
    * arbitrary prefix edits.
    *
    * Scale shape: the per-doc window and chunk aggregation run on
    * narrow (doc_id, position, hash) rows; the token arrays are joined
    * back once per doc for fingerprinting. Window partitions are
    * per-document — bounded by document length, not corpus size.
    * Output positions are 1-based token indices.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                maskBits: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mask = (1L << maskBits) - 1
    val th = docs.select(col(idCol).as("doc_id"),
        posexplode(transform(tokens(col(textCol)), t => xxhash64(t)))
          .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("i"), col("h"))
    val w = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = th
      .withColumn("f",
        when(col("h").bitwiseAND(mask) === 0, 1).otherwise(0))
      .withColumn("chunk_idx",
        coalesce(sum(col("f")).over(w), lit(0)).cast("long"))
      .groupBy("doc_id", "chunk_idx")
      .agg(min("i").as("start_tok"), count(lit(1)).as("n_toks"))
    val texts = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("__toks"))
    chunks.join(texts, Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        col("n_toks"),
        md5(array_join(slice(col("__toks"), col("start_tok").cast("int"),
          col("n_toks").cast("int")), " ")).as("fingerprint"))
  }

  // ---------------- SimHash ----------------

  /** Hamming distance between two 64-bit SimHashes. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within `maxDist` Hamming distance.
    *
    * Blocking (VERDICT r11 #6 — the second-blocking-key playbook
    * applied before the 16-bit pigeonhole became the next 26×): the
    * signature splits into two 32-BIT HALVES; any pair within distance
    * 3 has ≤ 1 error in one half (pigeonhole over 2 halves), so the
    * candidate set is exactly the pairs whose halves match within
    * Hamming 1 — realized as an ASYMMETRIC exact-key join in the
    * multi-index style of Manku, Jain & Das Sarma (WWW'07 §3): the
    * probe side emits each half plus its 32 one-bit flips (33 keys per
    * half, 66 rows/doc — linear), the build side emits the exact half,
    * and an exact 32-bit key match ⟺ half distance ≤ 1. Compared to
    * the former 4×16-bit equality blocks this trades a constant 16.5×
    * row fan-out for a 2¹⁶× sparser key space: bucket populations — and
    * with them the quadratic candidate mass that made the 16-bit
    * scheme superlinear on dense corpora (13.4× at 10× data) — drop to
    * near-duplicate clusters only. Output-identical: both blockings
    * are complete for distance ≤ 3 supersets, and the exact Hamming
    * filter below decides membership.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3,
      s"simHashPairs: 2-half/1-flip blocking is complete only for " +
        s"maxDist <= 3, got $maxDist")
    val sig = docs.select(col(idCol).as("doc_id"),
      exprs.simhash64(col(textCol)).as("sim"))
    val halves = sig.select(col("doc_id"), col("sim"),
      posexplode(array(
        shiftright(col("sim"), 32).bitwiseAND(lit(0xFFFFFFFFL)),
        col("sim").bitwiseAND(lit(0xFFFFFFFFL)))))
      .withColumnRenamed("pos", "half")
      .withColumnRenamed("col", "hv")
    val flips = (0 until 32).map(b => col("hv").bitwiseXOR(lit(1L << b)))
    val probe = halves.select(col("half"),
      explode(array(col("hv") +: flips: _*)).as("key"),
      col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val build = halves.select(col("half"), col("hv").as("key"),
      col("doc_id").as("id_b"), col("sim").as("sim_b"))
    probe.join(build, Seq("half", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sim_a"), col("sim_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
