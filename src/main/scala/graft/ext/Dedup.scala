package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.DriverGate

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB shape of the problem:
  *
  *  - exact: hash-groupBy on a content digest. One shuffle keyed by a
  *    16-byte digest — uniformly distributed, no skew, and AQE coalesces
  *    the post-shuffle partitions.
  *  - near-dup: MinHash signatures computed per-row by one fused codegen
  *    expression (no UDF, no shuffle), then LSH banding so the candidate
  *    join is an equi-join on one folded band digest instead of an
  *    O(n²) cross join. Only candidate pairs pay the exact-Jaccard cost.
  *  - SimHash: 64-bit per-row signature; near-dups differ in few bits.
  *
  * Portability note: hashes are built from md5 hex strings (identical in
  * every engine) rather than engine-private hash functions, so results are
  * verifiable against external oracles. MinHash "values" are 16-hex-char
  * strings compared lexicographically — order-isomorphic to the 64-bit
  * integer interpretation.
  */
object Dedup {

  // ---- exact -------------------------------------------------------------

  /** Content digest for exact dedup (md5 of raw text). */
  def contentHash(text: Column): Column = md5(text.cast("binary"))

  /** Keep one row per distinct content hash (min of `idCol` wins —
    * deterministic, unlike dropDuplicates' arbitrary winner). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df.groupBy(contentHash(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__h")
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Duplicate-span removal (the C4 / RefinedWeb "line dedup" shape):
    * split each document's token stream into consecutive `span`-token
    * chunks, keep only the globally FIRST occurrence of each distinct
    * chunk (lowest (id, position) wins — deterministic), and reassemble
    * the surviving chunks in document order.
    *
    * Scale shape: chunking is a pure projection (HOF slice over the token
    * array — no explode before the chunk strings exist, so the exploded
    * row count is corpus_tokens/span, not corpus_tokens). The wide window
    * that decides global first-occurrence is keyed on md5(chunk), so its
    * shuffle moves (id, chunk_idx, 16-byte digest) — NEVER the raw span
    * text. The survivor index sets (ints) group by doc id and join back
    * to the documents, which is the single place chunk text crosses the
    * wire; reassembly re-derives the chunks from the doc's own row with
    * the same projection (CPU, no extra shuffle). Chunk identity is md5
    * identity — a 128-bit collision conflating two distinct spans is
    * O(n²/2¹²⁸), the standard content-hash dedup assumption ([[exact]]).
    *
    * Output: (id, n_chunks, n_kept, text_dedup) — docs with no tokens
    * vanish (no chunks), and a fully-duplicated doc keeps an empty
    * text_dedup.
    */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
      span: Int): DataFrame = {
    require(span > 0, "span must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens(col(textCol))
    val nChunks = ceil(size(toks) / lit(span.toDouble)).cast("int")
    // guard the empty-token case: sequence(0, -1) would DESCEND ([0,-1])
    val chunkArr = when(size(toks) > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(toks, i * span + 1, lit(span)), " ")))
      .otherwise(array().cast("array<string>"))
    // narrow side: only digests explode and shuffle
    val hashed = df.select(col(idCol),
      posexplode(transform(chunkArr, c => unhex(md5(c.cast("binary")))))
        .as(Seq("chunk_idx", "__h")))
    val w = Window.partitionBy("__h").orderBy(idCol, "chunk_idx")
    val kept = hashed
      .withColumn("__rn", row_number().over(w))
      .groupBy(idCol).agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("__rn") === 1, 1).otherwise(0)).cast("int").as("n_kept"),
        sort_array(collect_list(when(col("__rn") === 1, col("chunk_idx"))))
          .as("__kept"))
    // wide side: one id-keyed join carries the text, reassembly is a HOF
    kept.join(df.select(col(idCol), chunkArr.as("__chunks")), Seq(idCol))
      .select(col(idCol), col("n_chunks"), col("n_kept"),
        array_join(transform(col("__kept"),
          i => element_at(col("__chunks"), i + 1)), " ").as("text_dedup"))
  }

  /** Digest array of the stride-1 `w`-token windows of `textCol` (empty
    * for docs with fewer than `w` tokens, null for null text — both
    * vanish under the explode/filter that consumes this) — shared by the
    * substring-dedup kernels so all of them flag the SAME windows. Fused
    * codegen pass (`functions.WindowDigests`): the HOF form (per-window
    * slice + array_join + md5) dominated the whole operator's CPU; the
    * fused pass normalizes the token stream once and runs each md5
    * straight off the compact buffer. */
  private def windowDigests(textCol: String, w: Int): Column =
    // the fused pass lowercases internally (same UTF8String.toLowerCase
    // as the built-in lower())
    graft.functions.WindowDigests.windowDigests(col(textCol), w)

  /** Duplicated-substring detection over OVERLAPPING token windows — the
    * discovery half of exact substring dedup (public method: Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * which removes every repeated span ≥ 50 tokens via a suffix array;
    * the distributed equivalent of the suffix array's repeat-finding is
    * this stride-1 window-digest self-count). A window is DUPLICATED when
    * its digest occurs more than once corpus-wide — including twice
    * inside one document (self-repetition counts, as in the paper).
    *
    * Differs from [[spanDedup]] (disjoint chunks, first-copy-wins
    * rewrite): overlapping windows catch duplicated passages at ANY
    * offset, the case chunk alignment misses.
    *
    * Scale shape (100 TB): each doc emits (size − w + 1) 16-byte digests;
    * the count aggregation shuffles (digest, partial-count) with map-side
    * combine, and the per-doc regroup shuffles (id, digest) pairs — raw
    * window text never leaves the row pass. [[windowDupStatsBloom]]
    * returns the same rows with a Bloom prepass that keeps unique
    * windows out of the regroup: on a 4-core host it is the faster of
    * the two at sf1 and the slower at sf0.1 (`PERF_bloom_twins.json`).
    *
    * Output: (id, n_windows, n_dup_windows, dup_ratio); docs with fewer
    * than `w` tokens have no windows and vanish (same convention as
    * [[spanDedup]] for token-less docs). */
  def windowDupStats(df: DataFrame, textCol: String, idCol: String,
      w: Int): DataFrame = {
    require(w > 0, "window width must be positive")
    val winArr = windowDigests(textCol, w)
    val ex = df.select(col(idCol), explode(winArr).as("__h"))
    val counts = ex.groupBy("__h").agg(count(lit(1)).as("__c"))
    ex.join(counts, "__h")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio", graft.queries.Fp.r(
        col("n_dup_windows").cast("double") / col("n_windows"), 4))
  }

  /** Bloom sizing for [[windowDupStatsBloom]]: count the
    * ALREADY-MATERIALIZED dup-digest set (localCheckpoint'ed, so this is
    * one cheap cached-partition job, not a rescan) and add 25% headroom.
    * A fixed constant is wrong at both ends — r18 measured a 4M default
    * costing 2.3× on the sf0.1 bench (a ~3.6 MB filter built, merged
    * across every map task and shipped in the plan for a few thousand
    * actual dups), while at 100 TB corpus scale it would undersize the
    * filter and let its false-positive rate climb back toward the exact
    * path's explode volume. Floor 4096 keeps the degenerate small-corpus
    * filter from being all-collisions. Sizing never changes results —
    * false positives are removed by the exact join that follows. */
  private def bloomSize(build: DataFrame): Long =
    math.max(4096L, {
      val n = build.count()
      n + n / 4
    })

  /** [[windowDupStats]]'s Bloom-prepass form — the production bound at
    * corpus scale, with EXACTLY the same output (same flagged windows,
    * same counts; the Bloom filter only bounds intermediate volume, it
    * never changes the answer):
    *
    *   - pass 1 (same digest-grain count aggregate as the exact path,
    *     map-side combined): the duplicated digests — count > 1 — are
    *     materialized once (flagged-window volume, typically a small
    *     fraction of the corpus) and folded into ONE Bloom-filter binary
    *     (a few MB regardless of corpus size), sized by [[bloomSize]].
    *   - pass 2: a pure row-local projection re-derives each doc's
    *     window digests and probes the Bloom with a HOF — only PROBABLE
    *     duplicates survive to explode. Bloom false positives are then
    *     removed by an exact join against the materialized dup-digest
    *     set, so the per-doc regroup shuffles candidate windows only —
    *     never the full (id, digest) stream the exact path pays (its
    *     count join + regroup re-shuffle EVERY window; here unique
    *     windows — the overwhelming majority — never leave their row).
    *
    * Output and row set are identical to [[windowDupStats]]; docs with
    * fewer than `w` tokens vanish, docs whose windows are all unique
    * report 0 dups. */
  def windowDupStatsBloom(df: DataFrame, textCol: String, idCol: String,
      w: Int): DataFrame = {
    require(w > 0, "window width must be positive")
    // window CONSTRUCTION (tokenize, slice, join, md5) dominates this
    // operator's CPU — measured 1.5x the whole exact path when pass 2
    // re-derived it from text. Materialize the per-doc digest arrays
    // ONCE (node-local, digest-grain: ~20 bytes/window, no text, no
    // shuffle); the count pass and the scoring pass both read it.
    val wins = df.select(col(idCol), windowDigests(textCol, w).as("__wins"))
      .filter(size(col("__wins")) > 0)
      .localCheckpoint()
    // pass 1: exact dup-digest set, materialized once — serves both the
    // bloom aggregate and the false-positive-removing join below
    val dups = wins.select(explode(col("__wins")).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .localCheckpoint()
    // None: zero duplicates, so no window can be a candidate
    val bytes = graft.functions.BloomOps.build(dups, "__h", bloomSize(dups))
    val candArr = bytes match {
      case Some(b) => filter(col("__wins"), h =>
        call_function("might_contain", lit(b), xxhash64(h)))
      case None => array().cast("array<binary>")
    }
    // pass 2: projection + candidate-only explode; the exact join drops
    // bloom false positives so the flagged set matches the exact path
    wins
      .select(col(idCol), size(col("__wins")).cast("long").as("n_windows"),
        explode_outer(candArr).as("__h"))
      // LEFT join (not semi): zero-candidate docs keep their null row so
      // they still report n_dup_windows = 0; the right-side marker is
      // null exactly for bloom false positives and the null row
      .join(dups.select(col("__h"), lit(1).as("__dup")), Seq("__h"), "left")
      .groupBy(idCol)
      .agg(first(col("n_windows")).as("n_windows"),
        count(col("__dup")).as("n_dup_windows"))
      .withColumn("dup_ratio", graft.queries.Fp.r(
        col("n_dup_windows").cast("double") / col("n_windows"), 4))
  }

  /** The REWRITE form of exact-substring dedup — the full Lee et al.
    * operator the stats paths above approximate: every duplicated
    * `w`-token window (at ANY offset, corpus-wide) is removed from the
    * text, and the globally FIRST occurrence — min (id, position) —
    * survives. Flagged overlapping windows merge naturally: a duplicated
    * passage of L ≥ w tokens yields L − w + 1 flagged windows whose
    * covered token positions union into the full span.
    *
    * Output: (idCol, text, n_tokens, n_removed) where `text` is the
    * surviving LOWERCASED tokens joined by single spaces (the operator
    * normalizes like the digest pass — reference behavior for training
    * corpora, where text is tokenized downstream anyway). Docs shorter
    * than `w` tokens pass through untouched; a fully-duplicated doc
    * (that is not the first occurrence) comes out empty, not dropped —
    * the caller decides whether to filter empties.
    *
    * Scale shape (100 TB): the digest pass is row-local; the
    * first-occurrence aggregate shuffles (id, pos, digest) triples with
    * map-side combine; flagged occurrences (dup volume) regroup to doc
    * grain as covered-position sets; the final cut joins doc text against
    * that doc-keyed set once and trims row-locally. Window text never
    * shuffles. Every window reaches the first-occurrence aggregate —
    * one (count, min-struct) row per distinct digest per map partition,
    * ~all-window volume on a unique-heavy corpus — because the cut needs
    * the global first (id, pos) per digest, which no sketch can carry. */
  def windowDupRemove(df: DataFrame, textCol: String, idCol: String,
      w: Int): DataFrame = {
    require(w > 0, "window width must be positive")
    val occ = df
      .select(col(idCol), posexplode(windowDigests(textCol, w))
        .as(Seq("__p", "__h")))
    // global first occurrence per DUPLICATED digest (c > 1): min over the
    // (id, pos) struct — lexicographic, total, deterministic
    val firsts = occ.groupBy("__h")
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol).as("i"), col("__p").as("p"))).as("__f"))
      .filter(col("__c") > 1)
    // inner join: unique windows drop out here; survivors are flagged
    // unless they ARE the first occurrence
    val flagged = occ.join(firsts, "__h")
      .filter(!(col(idCol) === col("__f.i") && col("__p") === col("__f.p")))
      .select(col(idCol), col("__p"))
    cutCovered(df, textCol, idCol, w, flagged)
  }

  /** Shared cut stage: union flagged windows [p, p+w) into covered token
    * positions per doc, join back doc-keyed, trim row-locally. The
    * per-token `array_contains` probe is O(|covered|) — fine because
    * covered sets are dup-volume per doc; heavily-duplicated docs are
    * exactly the ones about to lose those tokens anyway. */
  private def cutCovered(df: DataFrame, textCol: String, idCol: String,
      w: Int, flagged: DataFrame): DataFrame = {
    val covered = flagged
      .select(col(idCol),
        explode(sequence(col("__p"), col("__p") + (w - 1))).as("__j"))
      .groupBy(idCol).agg(collect_set(col("__j")).as("__cov"))
    df.select(col(idCol),
        coalesce(TextAnalysis.tokens(lower(col(textCol))),
          array().cast("array<string>")).as("__toks"))
      .join(covered, Seq(idCol), "left")
      .withColumn("__keep",
        when(col("__cov").isNull, col("__toks"))
          .otherwise(filter(col("__toks"),
            (t, i) => !array_contains(col("__cov"), i))))
      .select(col(idCol),
        concat_ws(" ", col("__keep")).as("text"),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__keep"))).cast("long")
          .as("n_removed"))
  }

  // ---- MinHash + LSH -----------------------------------------------------

  /** n-word shingles over the lowercase token stream. Unigram minhash
    * collapses on shared-vocabulary corpora (every doc uses the same words);
    * shingles capture word ORDER so only near-identical text collides. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** One MinHash value: min over the shingle set of md5("<seed>:" + s),
    * truncated to 16 hex chars (lexicographic min ≡ 64-bit integer min).
    * Pure per-row expression — no shuffle, no UDF. */
  def minhash(set: Column, seed: Int): Column =
    array_min(transform(set,
      t => substring(md5(concat(lit(s"$seed:"), t).cast("binary")), 1, 16)))

  // The MinHash-LSH kernel. Every near-dup entry point — batch,
  // from-index, incremental, streaming and bucketed — composes these
  // steps, so each exists once: `signed` (the signing projection),
  // `banded` (the band projection, every value read through `sigAt`),
  // `jaccard` (the verify) and `verifiedPairs` (the candidate join +
  // fetch + verify). The stream probe in
  // `graft.streaming.Streams` composes the same steps.

  /** The signing projection: the `keep` columns plus `sig` (k minhash
    * values), `dsh` (distinct shingle set) and `n_shingles`, from ONE
    * fused per-row codegen pass ([[graft.functions.MinHashSig]] — one
    * string pass + k·|shingles| md5 calls, no shuffle, no interpreted
    * lambdas). Docs with fewer than `shingleN` tokens have no signature
    * and are dropped. Row-local, so it runs unchanged on a stream; the
    * batch callers apply [[graft.core.Tables.spread]] first. */
  private[graft] def signed(df: DataFrame, textCol: String,
      keep: Seq[String], k: Int, shingleN: Int): DataFrame = {
    df.select(keep.map(col) :+ graft.functions.MinHashSig
        .minhashSig(col(textCol), shingleN, k).as("__m"): _*)
      .filter(col("__m").isNotNull)
      .select(keep.map(col) ++ Seq(col("__m.sig").as("sig"),
        col("__m.dsh").as("dsh"), col("__m.n_shingles").as("n_shingles")): _*)
  }

  /** k-wide signature as individual columns mh0..mh{k-1} next to every
    * column of `df` (one ordered projection, so the mh columns keep
    * their order for any k). Docs with fewer than `shingleN` tokens are
    * dropped (no signature). */
  def withMinhashSignature(df: DataFrame, textCol: String, k: Int = 8,
      shingleN: Int = 3): DataFrame = {
    val cols = df.columns.toIndexedSeq
    signed(df, textCol, cols, k, shingleN)
      .select(cols.map(col) ++ (0 until k).map(i => col("sig")(i).as(s"mh$i")): _*)
  }

  /** Guarded read of position `i` of a signed frame's `sig` array: the
    * elements are non-null by construction ([[signed]] filters null
    * signatures), so a short array means the caller's `k` is wider than
    * a stored index was built with. Without this guard concat_ws inside
    * [[banded]] would silently drop the missing values and band
    * digests would collide or diverge, degrading candidate recall with
    * no error. Raise loudly instead. (A k NARROWER than the stored index
    * is fine: seeds are positional, so a prefix is itself a valid
    * k-signature.)
    *
    * ONE branch per row carries the whole guard: element 0 (read exactly
    * once per row, in band 0) checks `size(sig) >= k` and raises OUR
    * message; every other element is a plain positional read. The guard
    * is part of the same banding projection row, and Spark evaluates
    * every projected expression for a row it emits (when() short-circuits
    * only its own branches), so a short signature can never slip through
    * — and codegen's in-order emission makes the size check fire BEFORE
    * an out-of-range positional read could surface ANSI's positionless
    * INVALID_ARRAY_INDEX (the k-wider spec test pins that ordering on
    * the batch, incremental and streaming paths). Guarding all k
    * elements with get()+when each measured 21% on `x_dedup_incremental`
    * at sf1; this form measures at the unguarded cost (docs/SCALING.md
    * §"Dedup / text"). */
  private def sigAt(i: Int, k: Int): Column =
    if (i == 0)
      // the isNull arm guards a NULL sig array too: signed never yields
      // one, but a hand-built index could — and under ANSI, size(NULL)
      // is NULL, the when-condition would be false, and sig(0) would
      // yield silently-null band digests where the contract is
      // raise-loudly
      when(size(col("sig")).isNull || size(col("sig")) < k, raise_error(lit(
        s"signature index narrower than k=$k (sig null or size(sig) < $k)" +
          " — was the index built with a smaller k?")))
        .otherwise(col("sig")(0))
    else col("sig")(i)

  /** The band projection: one row per (signed doc, band) with `cols` and
    * the band key `band_val`, the folded digest md5("b|v1|…|vr") of band
    * b's `k / bands` signature values. Folding the band index into the
    * digest gives the candidate join ONE equi-key — the shape a bucketed
    * layout can pre-partition ([[graft.streaming.Streams.writeBandedIndex]]);
    * bucketing on a per-band digest alone still exchanges a
    * (band, digest) join. Two docs share a key iff they agree on every
    * value of one band, so the candidates equal those of the per-band
    * (band_idx, md5(values)) encoding the DuckDB oracles use, unless md5
    * collides. */
  private[graft] def banded(signed: DataFrame, k: Int, bands: Int,
      cols: Column*): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    val keys = (0 until bands).map(b => md5(concat_ws("|", lit(b.toString) +:
      (0 until rows).map(r => sigAt(b * rows + r, k)): _*).cast("binary")))
    signed.select(cols :+ explode(array(keys: _*)).as("band_val"): _*)
  }

  /** Exact Jaccard |A∩B| / (|A| + |B| − |A∩B|) of two distinct-shingle
    * sets with their sizes, via native array_intersect; null for two
    * empty sets. try_divide, not a nullif on the divisor: Spark rewrites
    * nullif into a separate projection, which would evaluate the
    * intersection twice; here it is one common subexpression. */
  private[graft] def jaccard(da: Column, na: Column, db: Column,
      nb: Column): Column = {
    val inter = size(array_intersect(da, db)).cast("long")
    try_divide(inter.cast("double"), na + nb - inter)
  }

  /** Candidate join + verify over two signed frames (`idCol`, `sig`,
    * `dsh`, `n_shingles`): docs sharing a band key are candidates,
    * `keep(aId, bId)` filters them (a < b within one frame, a ≠ b across
    * two), each pair appears once, and its two shingle sets are fetched
    * by id-join for the exact [[jaccard]]. The band equi-join shuffles
    * (id, band digest) rows, never all-pairs; the fetch joins move
    * candidate-volume rows only. Returns (aId, bId, jaccard). */
  private[graft] def verifiedPairs(left: DataFrame, right: DataFrame,
      idCol: String, aId: String, bId: String,
      keep: (Column, Column) => Column, k: Int, bands: Int): DataFrame = {
    def fetch(side: DataFrame, id: String, s: String) = side.select(
      col(idCol).as(id), col("dsh").as(s"__d$s"), col("n_shingles").as(s"__n$s"))
    banded(left, k, bands, col(idCol).as(aId))
      .join(banded(right, k, bands, col(idCol).as(bId)), "band_val")
      .filter(keep(col(aId), col(bId)))
      .select(aId, bId).distinct()
      .join(fetch(left, aId, "a"), aId)
      .join(fetch(right, bId, "b"), bId)
      .select(col(aId), col(bId), jaccard(col("__da"), col("__na"),
        col("__db"), col("__nb")).as("jaccard"))
  }

  /** Candidate near-duplicate pairs (a_id < b_id) from banded minhash
    * signatures, with the exact shingle-set Jaccard of each candidate.
    * Docs shorter than one shingle are excluded (no signature).
    *
    * The signature frame is persisted because the band join and both
    * Jaccard fetches read it — and a later call over the same input
    * plans an `InMemoryTableScan` of that entry instead of signing the
    * text again. At warehouse scale the [[signatureIndex]] is a stored
    * table instead ([[nearDupPairsFromIndex]]). */
  def nearDupPairs(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, bands: Int = 2, shingleN: Int = 3): DataFrame = {
    require(k % bands == 0, "k must divide into bands") // before the persist
    val sigs = signatureIndex(df, textCol, idCol, k, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verifiedPairs(sigs, sigs, idCol, "a_id", "b_id", _ < _, k, bands)
  }

  /** The signature index for incremental dedup: one row per doc with its
    * minhash signature array, distinct shingle set and shingle count —
    * exactly what [[nearDupPairs]] computes internally. Write it ONCE per
    * corpus (parquet next to the corpus); daily batches then dedup
    * against the index without ever rescanning corpus text. */
  def signatureIndex(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, shingleN: Int = 3): DataFrame =
    signed(graft.core.Tables.spread(df), textCol, Seq(idCol), k, shingleN)

  /** Incremental near-dup pairs — the daily-ingest shape: candidates come
    * from banding the NEW batch against an EXISTING [[signatureIndex]],
    * so the corpus is never rescanned and the join is new×old only,
    * never old×old (the index side was already deduped when it was
    * built). Returns (new_id, old_id, jaccard) for the new batch's
    * collisions; drop new ids whose best jaccard clears the threshold,
    * then append the survivors' signatures to the index.
    *
    * The batch's signatures are NOT persisted: in a long-lived session
    * nothing would unpersist them, so the band join and the Jaccard fetch
    * each sign the (batch-sized) text. A caller that has both indexes
    * materialized uses [[incrementalNearDupPairsFromIndex]]. */
  def incrementalNearDupPairs(newBatch: DataFrame, textCol: String,
      idCol: String, index: DataFrame, k: Int = 8,
      bands: Int = 2): DataFrame =
    incrementalNearDupPairsFromIndex(
      signatureIndex(newBatch, textCol, idCol, k), index, idCol, k, bands)

  /** [[incrementalNearDupPairs]] when the new batch's signatures are
    * already computed (e.g. both sides are stored [[signatureIndex]]
    * tables): new×old banded candidates + exact Jaccard, zero text
    * scans. */
  def incrementalNearDupPairsFromIndex(newIndex: DataFrame,
      index: DataFrame, idCol: String, k: Int = 8,
      bands: Int = 2): DataFrame =
    verifiedPairs(newIndex, index, idCol, "new_id", "old_id", _ =!= _, k, bands)

  /** [[nearDupPairs]] over an already-materialized [[signatureIndex]]
    * (the stored-table deployment shape): banded within-index candidate
    * pairs + exact Jaccard, zero text scans, no internal persist — the
    * caller owns the index's materialization (a stored table reads at
    * scan cost; an in-session frame should be checkpointed ONCE instead
    * of letting each of the three consumers here re-run its lineage). */
  def nearDupPairsFromIndex(index: DataFrame, idCol: String,
      k: Int = 8, bands: Int = 2): DataFrame =
    verifiedPairs(index, index, idCol, "a_id", "b_id", _ < _, k, bands)

  /** Near-dup removal: drop the higher id of every candidate pair whose
    * exact Jaccard clears the threshold. */
  def nearDedup(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, k: Int = 8, bands: Int = 2): DataFrame = {
    val drop = nearDupPairs(df, textCol, idCol, k, bands)
      .filter(col("jaccard") >= threshold)
      .select(col("b_id").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Connected components over candidate pairs (the missing step between
    * pairwise near-dup detection and dedup groups: A~B and B~C must land
    * in ONE cluster even though (A,C) never surfaced as a pair). Returns
    * (id, cluster_id) with cluster_id = the smallest member id.
    *
    * Iterative min-label propagation: each round every vertex takes the
    * minimum label among itself and its neighbors — one equi-join + one
    * aggregation per round, all distributed, converging in O(component
    * diameter) rounds. Near-dup clusters are shallow (dups of dups of one
    * original), so a handful of rounds closes them; rounds run FUSED in
    * pairs — one persist + one count() action (a single scalar to the
    * driver, never the data) covers two propagation hops, halving driver
    * round-trips on deeper chains. Below `spark.graft.cc.localMaxEdges`
    * directed edges with integral ids the same labels come from a driver
    * union-find instead (see the gate below).
    *
    * Runs to the fix point; `maxIter` is a safety rail against adversarial
    * diameters and THROWS when exceeded rather than silently returning
    * split clusters (correctness is the operator's whole point). The
    * returned frame is locally checkpointed so callers get converged
    * labels without holding the iteration's cached lineage — its storage
    * is reclaimed by the context cleaner once the result is dropped.
    */
  def clusterPairs(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id", maxIter: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // both edge directions from ONE pass over `pairs` (explode, not
    // union-of-self: the input is typically an expensive un-cached pipeline
    // — LSH candidate generation — and a self-union evaluates it twice)
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct().persist(MEMORY_AND_DISK)
    // materialize NOW: the propagation rounds reference `edges` several
    // times in one job, and an unmaterialized cache would re-run the
    // (expensive) upstream pair pipeline once per reference
    val nEdges = edges.count()
    // Size-gated local fast path (r18; the r13 bitmap-dispatch
    // discipline): below `spark.graft.cc.localMaxEdges` directed edges
    // (default 1M ≈ tens of MB collected — the same bounded-collect
    // budget class as IVF centroids / the BPE vocab) with integral ids,
    // min-label connected components runs as a driver union-find over
    // the ALREADY-MATERIALIZED edge cache: identical labels by
    // construction (min member id per component is unique), zero
    // iteration rounds, zero per-round checkpoints/convergence counts —
    // the distributed loop's fixed cost is ~3 driver-blocking actions
    // per two hops, which dominates small contracted graphs
    // (clusterPairsIncremental, streaming micro-batches, bench-scale
    // corpora). Larger graphs or non-integral ids fall through to the
    // distributed loop unchanged — no correctness cliff, only a
    // latency one, and the threshold is conf-tunable per deployment.
    val integralIds = DriverGate.integralIds(edges.schema("src").dataType)
    val localMax = DriverGate.budget(pairs.sparkSession,
      "spark.graft.cc.localMaxEdges", 1000000L)
    if (integralIds && nEdges <= localMax) {
      localMinLabel(edges) match {
        case Some(out) =>
          edges.unpersist()
          lastRounds = 0
          return out
        case None => () // null endpoint: distributed loop is authoritative
      }
    }
    // one propagation round; carries the pre-round label as `prev` so the
    // convergence check is a filter on the SAME materialization, not a
    // second join-and-count pass
    def round(l: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(l.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id")).agg(min("label").as("nbr_label"))
      l.select("id", "label").join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"),
          col("label").as("prev"))
    }
    val init = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"), col("id").as("prev"))
    // TWO propagation rounds per materialized lineage, every iteration:
    // `prev` carries the label between the fused rounds, so
    // `label != prev` tests whether the LAST round changed anything —
    // equality there is the fix point regardless of what the first fused
    // round did. Near-dup clusters are shallow (star-ish), so the typical
    // run converges within the first lineage and pays exactly ONE driver
    // action; deeper chains pay one materialize+count per TWO hops
    // instead of per hop. localCheckpoint (not persist) each iteration:
    // persist truncates only the computation, the LOGICAL plan keeps
    // nesting two joins per round and analyzer cost explodes on deep
    // chains — checkpointing truncates both.
    var labels = round(round(init)).localCheckpoint()
    var changed = labels.filter(col("label") =!= col("prev")).count()
    var iter = 2
    while (changed > 0 && iter < maxIter) {
      val next = round(round(labels)).localCheckpoint()
      changed = next.filter(col("label") =!= col("prev")).count()
      labels = next
      iter += 2
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"clusterPairs: min-label propagation did not converge in $maxIter " +
          "rounds (component diameter exceeds the safety rail); raise " +
          "maxIter, or raise spark.graft.cc.localMaxEdges above the " +
          "graph's directed edge count to take the driver union-find")
    lastRounds = iter
    val out = labels.select(col("id"), col("label").as("cluster_id"))
    edges.unpersist()
    out
  }

  /** Dev telemetry: propagation rounds the LAST clusterPairs call on
    * this JVM executed — scaling attribution only (docs/SCALING.md),
    * never a correctness input.
    * 0 = the size-gated local union-find path ran (no rounds). */
  @volatile private[graft] var lastRounds: Int = 0

  /** Driver union-find over a bounded, materialized directed-edge frame
    * (both directions present): returns (id, cluster_id) with
    * cluster_id = smallest member id — bit-identical to the converged
    * min-label propagation. Ids are cast to long for the flat maps and
    * cast back to the input type on the way out, so the caller-visible
    * schema matches the distributed path's. None when an endpoint is
    * null (getLong would coerce it to 0) — caller falls through to the
    * distributed loop, whose null semantics stay authoritative. */
  private def localMinLabel(edges: DataFrame): Option[DataFrame] = {
    val idType = edges.schema("src").dataType
    // null screen BEFORE the collect, in-plan on the already-materialized
    // edge cache (one cheap action) — a nullable-id graph with an actual
    // null used to pay the full bounded collect only to discard it here.
    // Schema-level non-nullability skips even that action.
    val mayHaveNulls =
      edges.schema("src").nullable || edges.schema("dst").nullable
    if (mayHaveNulls &&
        !edges.filter(col("src").isNull || col("dst").isNull).isEmpty)
      return None
    val rows = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Some(DriverGate.resultFrame(edges.sparkSession,
      parent.keysIterator.map(v => org.apache.spark.sql.Row(v, find(v))).toSeq,
      Seq("id" -> LongType, "cluster_id" -> LongType), idType))
  }

  /** Incremental connected-components maintenance: fold one ingest
    * batch's near-dup pairs into an existing corpus clustering without
    * re-running components over the corpus — the cluster-table analogue
    * of [[incrementalNearDupPairs]]' signature-index maintenance, and
    * the last piece of the incremental dedup story (index → pairs →
    * clusters).
    *
    * Inputs: `existing` = the maintained `(id, cluster_id)` table, one
    * row per corpus doc including singletons, cluster_id = smallest
    * member id (i.e. a CONVERGED [[clusterPairs]] output extended with
    * self-labeled singletons); `newIds` = every doc
    * id of the new batch as a column `id` (singletons included; disjoint
    * from `existing`); `newPairs` = the batch's near-dup pairs — the
    * new×old shape [[incrementalNearDupPairs]] returns plus the batch's
    * internal new×new pairs (old×old pairs are legal too). Every pair
    * endpoint must appear in `existing` or `newIds`; unknown endpoints
    * influence labels but emit no output row.
    *
    * Shape: CONTRACT each pair endpoint to its current cluster label
    * (batch-grain: only the touched corpus rows are fetched, via a
    * broadcast semi-join), run [[clusterPairs]] on the contracted graph
    * — its vertices are touched cluster reps + new ids, never
    * corpus-grain — then EXPAND by broadcasting the batch-grain relabel
    * map back over `existing`. The corpus is SCANNED twice (label fetch,
    * relabel) and SHUFFLED zero times; a batch re-cluster would pay
    * O(diameter) corpus-grain shuffles instead. `newPairs` is evaluated
    * twice (endpoint extraction + contraction) — cache upstream if it is
    * an expensive LSH pipeline.
    *
    * Exactness (the gate oracle checks it literally against a full
    * batch re-cluster): contracting a converged min-label clustering
    * preserves connectivity — new edges connect exactly the clusters
    * whose representatives the contracted edges connect — and mins
    * compose: min over merged clusters of per-cluster min ids = the
    * merged component's smallest member id. */
  def clusterPairsIncremental(existing: DataFrame, newIds: DataFrame,
      newPairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
      maxIter: Int = 50): DataFrame = {
    val merged = contractedMerge(existing, newPairs, aCol, bCol, maxIter)
    val updated = existing
      .join(broadcast(merged.select(col("id").as("cluster_id"),
        col("cluster_id").as("__m"))), Seq("cluster_id"), "left")
      .select(col("id"),
        coalesce(col("__m"), col("cluster_id")).as("cluster_id"))
    val fresh = newIds.select(col("id"))
      .join(broadcast(merged.select(col("id"),
        col("cluster_id").as("__m"))), Seq("id"), "left")
      .select(col("id"), coalesce(col("__m"), col("id")).as("cluster_id"))
    updated.unionByName(fresh)
  }

  /** The CONTRACT + CLUSTER core of [[clusterPairsIncremental]], exposed
    * for sinks that expand DELTA-wise (only the touched corpus rows) —
    * [[graft.streaming.Streams.clusterBatchIncremental]]. Returns the
    * batch-grain relabel map `(id = old cluster label | new id,
    * cluster_id = smallest merged member id)`, locally checkpointed by
    * [[clusterPairs]]. */
  private[graft] def contractedMerge(existing: DataFrame,
      newPairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int): DataFrame = {
    val pairs = newPairs.select(col(aCol), col(bCol))
    val ends = pairs
      .select(explode(array(col(aCol), col(bCol))).as("id")).distinct()
    // batch-grain: current labels of the touched corpus endpoints only
    val touched = existing.join(broadcast(ends), Seq("id"), "left_semi")
    val la = touched.select(col("id").as(aCol), col("cluster_id").as("__la"))
    val lb = touched.select(col("id").as(bCol), col("cluster_id").as("__lb"))
    val contracted = pairs
      .join(la, Seq(aCol), "left")
      .join(lb, Seq(bCol), "left")
      .select(coalesce(col("__la"), col(aCol)).as("__ca"),
        coalesce(col("__lb"), col(bCol)).as("__cb"))
      .filter(col("__ca") =!= col("__cb"))
    clusterPairs(contracted, "__ca", "__cb", maxIter)
  }

  // ---- SimHash -----------------------------------------------------------

  /** 64-bit SimHash over the token set. Per-token 64-bit hash = first 16 hex
    * chars of md5; bit b contributes +1/-1 to an accumulator; the sign
    * pattern is the signature. Implemented with higher-order functions over
    * a 64-slot accumulator array — still per-row, no shuffle. */
  def simhash(text: Column): Column = {
    val tok = array_distinct(TextAnalysis.tokens(lower(text)))
    // Per token: 64 bits, MSB first, decoded nibble-by-nibble from the first
    // 16 hex chars of md5 (single hex digits — no 64-bit precision issues).
    def tokenBits(t: Column): Column =
      flatten(transform(slice(split(md5(t.cast("binary")), ""), 1, 16), c => {
        val nibble = conv(c, 16, 10).cast("int")
        array(Seq(3, 2, 1, 0).map(k =>
          shiftright(nibble, k).bitwiseAND(lit(1))): _*)
      }))
    // Accumulate +1/-1 votes per bit position across the token set.
    val acc = aggregate(
      tok,
      array((0 until 64).map(_ => lit(0)): _*),
      (a, t) => zip_with(a, tokenBits(t), (x, bit) => x + bit * 2 - 1))
    // Sign pattern → 64-char bit string.
    array_join(transform(acc, x => when(x > 0, "1").otherwise("0")), "")
  }
}
