package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation operators: rule-based quality filtering with
  * drop reasons, token-budget shard packing, stratified hash sampling.
  * All three are single-pass, shuffle-light shapes:
  *
  *  - [[qualityFilter]] is a pure per-row projection over the fused
  *    `TextStats` expression — no shuffle at all; the drop decision AND
  *    the reason ride on every row, so downstream audits (`GROUP BY
  *    drop_reason`) are one aggregation away.
  *  - [[packShards]] / [[packSequences]] run on a two-pass DISTRIBUTED
  *    prefix sum ([[distributedCumsum]]): no window ever spans a whole
  *    stratum, so a skewed stratum (a web corpus is ~90 % one language)
  *    parallelizes across range buckets instead of serializing through
  *    one task — deterministic, reproducible ids either way.
  *  - [[sampleStratified]] filters on a salted md5 prefix of the id —
  *    deterministic (re-runs pick identical rows, no RNG state), exactly
  *    reproducible in any engine with md5, and pushdown-friendly.
  */
object Curation {

  final val KeepCol = "keep"
  final val ReasonCol = "drop_reason"

  /** Quality-filter thresholds; a document is dropped with the FIRST
    * matching reason (stable CASE order: too_short, too_long, high_punct,
    * gibberish). */
  final case class QualityRules(
      minTokens: Int = 20,
      maxTokens: Int = 500,
      maxPunctRatio: Double = 0.10,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 9.0)

  /** Adds `keep` (boolean) + `drop_reason` (null when kept) from ONE fused
    * text-stats pass. Callers `filter(col("keep"))` for the clean corpus
    * or aggregate `drop_reason` for the curation report. */
  def qualityFilter(df: DataFrame, textCol: String,
      rules: QualityRules = QualityRules()): DataFrame = {
    val st = graft.functions.TextStats.textStats(col(textCol))
    val nt = col("__st.n_tokens")
    val pr = col("__st.n_punct").cast("double") /
      nullif(col("__st.n_chars").cast("double"), lit(0.0))
    val mwl = col("__st.sum_len").cast("double") /
      nullif(nt.cast("double"), lit(0.0))
    val reason = when(nt < rules.minTokens, "too_short")
      .when(nt > rules.maxTokens, "too_long")
      .when(pr > rules.maxPunctRatio, "high_punct")
      .when(mwl < rules.minMeanWordLen || mwl > rules.maxMeanWordLen,
        "gibberish")
    df.withColumn("__st", st)
      .withColumn(ReasonCol, reason)
      .withColumn(KeepCol, col(ReasonCol).isNull)
      .drop("__st")
  }

  /** Equi-join on `keys` with NULL-SAFE (`<=>`) key matching. NULL is a
    * legal stratum value (window partitionBy groups NULLs together, and
    * a real corpus can carry e.g. a null `lang`), but a plain
    * name-based equi-join never matches NULL keys — rows would vanish
    * silently. Right-side keys are renamed before the join (so
    * resolution never relies on self-join disambiguation) and dropped
    * after; a `broadcast` hint on `right` survives the rename. */
  private def joinNullSafe(left: DataFrame, right: DataFrame,
      keys: Seq[String], joinType: String = "inner"): DataFrame = {
    val renamed = keys.map(k => k -> s"__graft_r_$k")
    renamed.foreach { case (_, rk) =>
      require(!left.columns.contains(rk), s"left already has column $rk") }
    val r2 = renamed.foldLeft(right) {
      case (d, (k, rk)) => d.withColumnRenamed(k, rk) }
    val cond = renamed.map { case (k, rk) => col(k) <=> col(rk) }
      .reduce(_ && _)
    left.join(r2, cond, joinType).drop(renamed.map(_._2): _*)
  }

  /** Two-pass distributed per-stratum running token sum — the scale
    * engine under [[packShards]]/[[packSequences]]. A single
    * stratum-partitioned window would funnel each stratum through ONE
    * task (a web corpus is ~90 % one language: at 100 TB that is a
    * single-task sort of ~90 TB), so instead:
    *
    *   1. split each stratum's id-ordered stream into `buckets` range
    *      buckets (below);
    *   2. per-(stratum, bucket) token totals: a map-side-combined
    *      aggregate of buckets × strata rows (tiny);
    *   3. exclusive per-stratum running offsets over that tiny frame
    *      (one window over buckets × strata rows — never corpus-sized);
    *   4. bucket-local window cumsum (bucket-sized partitions, fully
    *      parallel) + the broadcast offset = the exact global cumsum.
    *
    * Output is IDENTICAL to the single-window formulation for any bucket
    * count/boundaries (offsets cancel bucketing out) — PROVIDED the
    * totals pass and the window pass see the SAME bucket assignment:
    * range-partition on (strata…, id), stamp `spark_partition_id`, and
    * localCheckpoint (eager, spillable, lineage-truncating) the frame
    * ONCE — both consumers read the pinned physical layout. Needed
    * because range boundaries come from seeded-per-plan-instance
    * reservoir sampling, and exchange REUSE is pruning-fragile (r14:
    * separate exchanges under a count() action → divergent boundaries →
    * garbage offsets). One upstream pass — right when upstream is
    * expensive (BPE encode measured ~9 s per pass at sf10). The
    * checkpoint is as wide as `df`: project fat columns (text,
    * embeddings) away BEFORE packing.
    *
    * `buckets` <= 0 means spark.sql.shuffle.partitions.
    *
    * Precondition (determinism): `idCol` must be unique within each
    * stratum — duplicate ids leave the intra-tie cumsum order undefined
    * (same contract as the single-window shape it replaces). NULL keys
    * are legal: a NULL stratum (or id) forms one group, exactly as the
    * single-window `partitionBy` treated it — every internal join is
    * null-safe (`<=>`). */
  private[graft] def distributedCumsum(df: DataFrame, tokenCol: String,
      idCol: String, partitionCols: Seq[String], buckets: Int,
      cumCol: String, bucketCol: String): DataFrame = {
    val b0 = if (buckets > 0) buckets
      else df.sparkSession.sessionState.conf.numShufflePartitions
    Seq(cumCol, bucketCol, "__graft_loc", "__graft_off").foreach(c =>
      require(!df.columns.contains(c), s"input already has column $c"))
    val bucketed = df
      .repartitionByRange(b0, (partitionCols :+ idCol).map(col): _*)
      .withColumn(bucketCol, spark_partition_id())
      .localCheckpoint()
    val totals = bucketed
      .groupBy(partitionCols.map(col) :+ col(bucketCol): _*)
      .agg(sum(col(tokenCol).cast("long")).as("__graft_tot"))
    val wOff = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__graft_off",
        coalesce(sum("__graft_tot").over(wOff), lit(0L)))
      .drop("__graft_tot")
    val wLoc = Window
      .partitionBy(partitionCols.map(col) :+ col(bucketCol): _*)
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = joinNullSafe(
        bucketed.withColumn("__graft_loc",
          sum(col(tokenCol).cast("long")).over(wLoc)),
        broadcast(offsets), partitionCols :+ bucketCol)
      .withColumn(cumCol, col("__graft_loc") + col("__graft_off"))
      .drop("__graft_loc", "__graft_off")
    // Every input column rides through the window pass (r15: the r14
    // narrow-projection + key-join-back recomputed an expensive upstream
    // a SECOND time for the join input and shuffled the wide frame anyway
    // — strictly worse than carrying the columns through the one shuffle
    // the window needs). Callers control the materialized/shuffled width
    // by projecting before they pack.
    cum
  }

  /** Deterministic token-budget shard assignment: within each
    * `partitionCols` stratum, rows ordered by `idCol` accumulate into
    * shards of ~`budget` tokens — shard = floor(exclusive-cumsum /
    * budget), so a document lands in the shard its FIRST token falls in
    * and an oversized document (> budget tokens) gets a shard of its own
    * rather than being dropped or split. Runs on the two-pass
    * [[distributedCumsum]], so even a 90 %-of-the-corpus stratum (or a
    * fully global pack: `partitionCols = Nil` is legal) parallelizes
    * across `buckets` range buckets instead of serializing through one
    * window task. `idCol` must be unique per stratum for deterministic
    * output. Every input column rides through the pack shuffle and the
    * checkpoint — project fat columns (text, embeddings) away before
    * packing. */
  def packShards(df: DataFrame, tokenCol: String, idCol: String,
      budget: Long, partitionCols: Seq[String],
      buckets: Int = 0): DataFrame = {
    require(budget >= 1, "budget must be positive")
    distributedCumsum(df, tokenCol, idCol, partitionCols, buckets,
        "__cum", "__graft_bucket")
      .withColumn("shard_id",
        floor((col("__cum") - col(tokenCol)) / lit(budget.toDouble))
          .cast("int"))
      .drop("__cum", "__graft_bucket")
  }

  /** Fixed-length training-sequence packing — the concat-then-chunk
    * batcher of LLM pretraining: within each stratum, documents in
    * `idCol` order form one logical token stream that is cut into
    * consecutive sequences of exactly `seqLen` tokens, documents
    * SPLITTING across sequence boundaries (the complement of
    * [[packShards]], which never splits). Emits one row per sequence:
    * how many documents contribute, how many tokens it holds (= seqLen
    * except each stratum's final partial), and the contributing doc-id
    * range — the manifest a data loader needs to fetch/assemble it.
    *
    * Scale shape: the [[distributedCumsum]] two-pass prefix sum (no
    * stratum-sized window anywhere — a skewed or even single stratum
    * parallelizes across range buckets; `partitionCols = Nil` packs the
    * whole corpus as one stream), then a pure projection explodes each
    * doc into the sequences it overlaps — output volume is corpus
    * tokens / seqLen, and the per-doc explode range is
    * ceil(n/seqLen)+1, linear in corpus tokens regardless of document
    * skew — and one (stratum, seq) aggregation. Sequence ids come from
    * floor division of token offsets (exact while stratum token counts
    * stay below 2^53 — at 25T tokens per 100 TB corpus, comfortably
    * true of any sane stratum). `idCol` must be unique per stratum:
    * duplicate ids make sequence assignment (and n_docs/first_doc/
    * last_doc) nondeterministic across runs.
    *
    * `startOffsets` (incremental/streaming continuation — see
    * [[graft.streaming.Streams.packBatchIncremental]]): per-stratum
    * token counts already packed (`partitionCols` + `start_offset`;
    * one global row when `partitionCols` is empty). Each stratum's
    * token stream starts at its offset, so a later batch CONTINUES the
    * stratum's last partial sequence instead of restarting at seq 0.
    * The frame is offset-table-sized → broadcast; `None` compiles the
    * exact single-exchange plan asserted in CurationSpec. */
  def packSequences(df: DataFrame, tokenCol: String, idCol: String,
      seqLen: Int, partitionCols: Seq[String],
      buckets: Int = 0,
      startOffsets: Option[DataFrame] = None): DataFrame = {
    require(seqLen >= 1, "seqLen must be positive")
    val L = lit(seqLen.toDouble)
    // manifests need only (strata, id, token count) — project narrow so
    // the cumsum materializes/shuffles nothing wider (a wide input like
    // the tokenize→pack chain's encoded frame never enters the machinery)
    val narrow = df.select(
      ((partitionCols :+ idCol) :+ tokenCol).distinct.map(col): _*)
    val cum = distributedCumsum(narrow, tokenCol, idCol, partitionCols,
      buckets, "__end", "__graft_bucket")
    val offset = startOffsets match {
      case None => cum
      case Some(o) =>
        require(o.columns.toSet == (partitionCols :+ "start_offset").toSet,
          s"startOffsets must have columns $partitionCols + start_offset")
        val ob = broadcast(o.withColumnRenamed("start_offset", "__soff"))
        val joined =
          if (partitionCols.isEmpty) cum.crossJoin(ob)
          else joinNullSafe(cum, ob, partitionCols, "left")
        joined.withColumn("__end",
          col("__end") + coalesce(col("__soff"), lit(0L))).drop("__soff")
    }
    offset
      .withColumn("__start", col("__end") - col(tokenCol))
      .filter(col(tokenCol) > 0) // zero-token docs belong to no sequence
      .withColumn("seq_id", explode(sequence(
        floor(col("__start") / L).cast("long"),
        floor((col("__end") - 1) / L).cast("long"))))
      .groupBy(partitionCols.map(col) :+ col("seq_id"): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("__end"), (col("seq_id") + 1) * seqLen) -
          greatest(col("__start"), col("seq_id") * seqLen)).as("n_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
  }

  /** Benchmark-contamination check: for each document, the fraction of
    * its DISTINCT n-token shingles that appear anywhere in the benchmark
    * corpus — the standard "is my training set leaking the eval set"
    * probe before an LLM training run.
    *
    * Scale shape: the benchmark is small and fixed-size (eval sets are
    * thousands of items; they do NOT grow with corpus size), so its
    * distinct shingle set BROADCASTS; the corpus explodes its shingles
    * once, the broadcast left-join marks hits with no corpus shuffle of
    * text, and one (id) aggregation — count vs matched count — yields
    * the rate.
    *
    * Output: idCol, n_shingles, n_contaminated, contamination (null for
    * docs too short to shingle). */
  def contamination(docs: DataFrame, textCol: String, idCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3): DataFrame = {
    // spread BEFORE shingling: a benchmark arriving as one small file is
    // one input split, so its tokenize+shingle+distinct — the expensive
    // part of the broadcast subtree — would run single-threaded while
    // the whole cluster waits on the broadcast (r18 measured it
    // serializing ~2 s of x_pipeline_e2e's contamination stage); at
    // warehouse scale the input already has splits and spread no-ops
    val benchShingles = graft.core.Tables.spread(benchmark)
      .select(explode(Dedup.shingles(col(benchTextCol), n)).as("__bs"))
      .distinct()
    // spread the DOCS side too (r19): when the corpus arrives off a
    // join/aggregate tail, AQE has coalesced it to byte-sized partitions
    // (text compresses small) and the CPU-heavy tokenize+shingle explode
    // runs nearly single-threaded — measured 12.4 s of x_pipeline_e2e's
    // 13.4 s contamination stage at sf1 with NO benchmark join at all
    // (deduped arrived as 7 ~1MB partitions; re-spread ran it in 4.7 s).
    graft.core.Tables.spread(docs)
      .select(col(idCol),
        explode_outer(array_distinct(Dedup.shingles(col(textCol), n)))
          .as("__s"))
      .join(broadcast(benchShingles), col("__s") === col("__bs"), "left")
      .groupBy(idCol)
      .agg(count(col("__s")).as("n_shingles"),
        count(col("__bs")).as("n_contaminated"))
      .withColumn("contamination",
        when(col("n_shingles") > 0,
          col("n_contaminated").cast("double") /
            col("n_shingles").cast("double")))
  }

  /** Gopher-style repetition signal: 1 − distinct/total n-gram shingles —
    * boilerplate and degenerate generations repeat themselves; clean
    * prose doesn't. Pure per-row expression (no shuffle, no UDF); null
    * for docs too short to shingle. */
  def repetitionRatio(text: Column, n: Int = 2): Column = {
    val sh = Dedup.shingles(text, n)
    when(size(sh) > 0,
      lit(1.0) - size(array_distinct(sh)).cast("double")
        / size(sh).cast("double"))
  }

  /** PII redaction patterns. Deliberately RE2-compatible (no lookaround,
    * no backreferences) so the same patterns run under Java regex here
    * and under RE2 in external engines (and in the DuckDB oracle). */
  final case class PiiRules(
      email: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      ip: String = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b",
      phone: String = "\\+?[0-9][0-9()\\- .]{6,}[0-9]")

  /** Rule-based PII scrub: replaces emails / IPs / phone numbers with
    * `[EMAIL]` / `[IP]` / `[PHONE]` tags and counts each kind. Applied in
    * that fixed order ON THE PROGRESSIVELY REDACTED text — emails go
    * first so their digits can't count as phones, IPs before phones for
    * the same reason. Counts therefore mean "matches at that stage",
    * which is also what makes them reproducible in any engine applying
    * the same order. Pure per-row regex expressions — no shuffle. */
  def redactPii(df: DataFrame, textCol: String,
      outCol: String = "text_redacted",
      rules: PiiRules = PiiRules()): DataFrame = {
    val afterEmail = regexp_replace(col(textCol), rules.email, "[EMAIL]")
    val afterIp = regexp_replace(afterEmail, rules.ip, "[IP]")
    df.withColumn("n_emails", regexp_count(col(textCol), lit(rules.email)))
      .withColumn("n_ips", regexp_count(afterEmail, lit(rules.ip)))
      .withColumn("n_phones", regexp_count(afterIp, lit(rules.phone)))
      .withColumn(outCol, regexp_replace(afterIp, rules.phone, "[PHONE]"))
  }

  /** Context-window chunking: splits each document's token stream into
    * overlapping windows for embedding/indexing — chunk i covers tokens
    * `[i·stride, i·stride + chunkTokens)` with `stride = chunkTokens −
    * overlap`, the last chunk may run short, and a document shorter than
    * one window yields itself as chunk 0. Pure per-row expressions + one
    * posexplode — no shuffle, no UDF; the chunk count per row is
    * `max(1, ceil((n − overlap) / stride))`, so output size is linear in
    * corpus tokens regardless of document skew.
    *
    * Output: all input columns except `textCol`, plus (chunk_idx,
    * chunk_text, n_chunk_tokens). */
  def chunk(df: DataFrame, textCol: String, chunkTokens: Int = 128,
      overlap: Int = 16): DataFrame = {
    require(chunkTokens >= 1 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap / $chunkTokens")
    val stride = chunkTokens - overlap
    // null text reads as empty: the row must survive as chunk 0 (an
    // un-coalesced null would null the chunk count and explode to
    // NOTHING, silently dropping the document)
    val toks = TextAnalysis.tokens(coalesce(col(textCol), lit("")))
    val n = size(toks)
    val nChunks = greatest(lit(1),
      ceil((n - lit(overlap)).cast("double") / stride).cast("int"))
    df.withColumn("__toks", toks)
      .withColumn("chunk_idx",
        explode(sequence(lit(0), nChunks - 1)))
      .withColumn("chunk_text", concat_ws(" ",
        slice(col("__toks"), col("chunk_idx") * stride + 1, lit(chunkTokens))))
      .withColumn("n_chunk_tokens",
        least(lit(chunkTokens),
          size(col("__toks")) - col("chunk_idx") * stride))
      .drop("__toks", textCol)
  }

  /** Deterministic global training-order shuffle: training runs want the
    * corpus in a reproducible pseudo-random order (no RNG state, same
    * order on re-runs and across engines), clustered-by-source data
    * decorrelated. The shuffle key is md5(salt:id); `apply` the key and
    * range-partition + locally sort on it — ONE range exchange, no
    * global row-number (a global position column would funnel the corpus
    * through a single task; shard-local order + shard id is what data
    * loaders actually consume). Different salts give independent orders
    * (epoch reshuffles). */
  def shuffleKey(idCol: Column, salt: String = ""): Column =
    md5(concat(lit(s"$salt:"), idCol.cast("string")).cast("binary"))

  /** The corpus in shuffled order: rows range-partitioned into
    * `numShards` by the salted key and sorted within each shard —
    * iterating shard files in (shard, local order) replays one global
    * deterministic permutation. */
  def shuffled(df: DataFrame, idCol: String, numShards: Int,
      salt: String = ""): DataFrame = {
    require(numShards >= 1, "numShards must be positive")
    df.withColumn("__shuffle_key", shuffleKey(col(idCol), salt))
      .repartitionByRange(numShards, col("__shuffle_key"))
      .sortWithinPartitions("__shuffle_key")
  }

  /** Deterministic stratified sample: keep a row when the first two hex
    * chars of md5(salt:id) sort below the stratum's threshold ("00".."ff"
    * ≈ rate·256). Thresholds map strata values to 2-hex-char strings;
    * `default` applies to unlisted strata ("00" keeps nothing). */
  /** Deterministic weighted sampling priority (Efraimidis–Spirtsos A-ES):
    * rows ranked by `u^(1/w)` descending are a weighted-without-replacement
    * sample, where `u ∈ (0,1]` derives from a salted md5 of the id —
    * reproducible across runs AND engines (the hex prefix parses to the
    * same integer everywhere). Selecting the global top-k is one
    * TakeOrdered; per-stratum top-k is one window — either way the corpus
    * is scanned once and never shuffled in full. This is the
    * mixture-sampling primitive: weight = token count (or domain quota)
    * and the sample follows the weights exactly in expectation. */
  /** First 8 hex chars of md5(salt ++ id) as an integer in [0, 2^32) —
    * the ONE hash-uniform primitive behind weighted sampling and mixture
    * rebalancing (keep the derivation in one place: the DuckDB oracles
    * mirror it character-for-character). */
  private def md5Prefix32(idCol: Column, salt: String): Column =
    conv(substring(
      md5(concat(lit(salt), idCol.cast("string")).cast("binary")), 1, 8),
      16, 10).cast("double")

  def weightedSampleKey(idCol: Column, weight: Column,
      salt: String = ""): Column = {
    // u = (v+1)/(2^32+1) ∈ (0,1], never 0 (0^(1/w) would break ordering)
    val priority = pow((md5Prefix32(idCol, salt) + 1.0) / 4294967297.0,
      lit(1.0) / weight.cast("double"))
    // A-ES is defined for w > 0 only: pow(u, 1/w) at w <= 0 yields
    // NaN/degenerate priorities that would silently corrupt the sample
    // order — null them instead (desc sort puts nulls last, so invalid-
    // weight rows lose to every valid row rather than beating them)
    when(weight.cast("double") > 0.0, priority)
  }

  /** Rebalance a corpus to a target source mixture by deterministic
    * downsampling (the "apply the mixture weights" step of
    * DoReMi-style pipelines). Per source s with target share p_s:
    * the largest feasible output M = min_s(count_s / p_s), and s keeps
    * rows with md5-uniform(id) < p_s·M/count_s — so the kept set has
    * composition ∝ targets in expectation, downsampling only (the
    * binding source keeps everything). Sources absent from `targets`
    * are dropped.
    *
    * Scale shape: ONE bounded aggregate (one row per source) is
    * collected to compute rates — #sources is catalog-sized, never
    * corpus-sized — and the corpus itself is filtered in a single scan
    * with a literal CASE over sources; no corpus shuffle, no join. The
    * md5-derived uniform is v/2^32 (exact power-of-two division) so the
    * keep decision is bit-reproducible across engines and runs. */
  def mixtureSample(df: DataFrame, idCol: String, sourceCol: String,
      targets: Map[String, Double], salt: String = ""): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "targets must be positive shares")
    val counts = df.groupBy(sourceCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val present = targets.filter { case (s, _) => counts.contains(s) }
    require(present.nonEmpty, "no target source present in the data")
    val cap = present.map { case (s, p) => counts(s) / p }.min
    val rate = present.foldLeft(lit(0.0)) { case (acc, (s, p)) =>
      when(col(sourceCol) === s, lit(p * cap / counts(s))).otherwise(acc)
    }
    // u = v/2^32 ∈ [0,1): exact power-of-two division
    df.filter(md5Prefix32(col(idCol), salt) / 4294967296.0 < rate)
  }

  /** Global weighted top-k sample using [[weightedSampleKey]]; returns
    * the caller's schema unchanged (the priority key stays internal). */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, k: Int,
      salt: String = ""): DataFrame = {
    val keyCol = "__graft_wkey"
    require(!df.columns.contains(keyCol), s"input already has $keyCol")
    df.withColumn(keyCol, weightedSampleKey(col(idCol), weight, salt))
      .orderBy(col(keyCol).desc, col(idCol)).limit(k)
      .drop(keyCol)
  }

  def sampleStratified(df: DataFrame, idCol: String, strataCol: String,
      thresholds: Map[String, String], default: String = "00",
      salt: String = ""): DataFrame = {
    require((thresholds.values.toSeq :+ default).forall(
      _.matches("[0-9a-f]{2}")), "thresholds must be 2 lowercase hex chars")
    val th = thresholds.foldLeft(lit(default)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, v).otherwise(acc)
    }
    val bucket = substring(
      md5(concat(lit(salt), col(idCol).cast("string")).cast("binary")), 1, 2)
    df.filter(bucket < th)
  }

  /** Leakage-safe train/val/test split: a random doc-level split puts
    * near-duplicate pairs on both sides of the train/eval boundary, so
    * eval scores are contaminated by memorization — the standard guard
    * (the "no leakage between splits" rule every public LLM data paper
    * applies) is to split by NEAR-DUP GROUP, not by document. Documents
    * are clustered with the MinHash-LSH pipeline ([[Dedup.nearDupPairs]]
    * at `jaccardThreshold`, connected components via
    * [[Dedup.clusterPairs]]); every doc inherits its cluster's md5-drawn
    * uniform, so a whole near-dup family lands in ONE split; singletons
    * (the overwhelming majority) are their own cluster.
    *
    * Scale shape: the pair/CC machinery is exactly the near-dedup path
    * (banded LSH join + O(log n) component rounds — see `Dedup`); docs
    * not in any pair never enter it, joining back via one id-keyed left
    * join; the split assignment itself is a pure projection. Output:
    * (idCol, cluster_id, split). Deterministic: md5(salt:cluster) — any
    * engine reproduces the exact membership. */
  def leakSafeSplit(docs: DataFrame, textCol: String, idCol: String,
      trainFrac: Double = 0.8, valFrac: Double = 0.1,
      jaccardThreshold: Double = 0.8,
      salt: String = "graft-split"): DataFrame = {
    // duplicate of leakSafeSplitClustered's guard: clusterPairs below is
    // EAGER (edge count + convergence counts), so invalid fractions must
    // fail here, before paying the LSH + connected-components cost
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      "need 0 < trainFrac, 0 <= valFrac, trainFrac + valFrac < 1")
    val pairs = Dedup.nearDupPairs(docs, textCol, idCol)
      .filter(col("jaccard") >= jaccardThreshold)
    leakSafeSplitClustered(docs, idCol, Dedup.clusterPairs(pairs),
      trainFrac, valFrac, salt)
  }

  /** The composition point: split against PRECOMPUTED near-dup clusters
    * ((id, cluster_id), the [[Dedup.clusterPairs]] contract — singletons
    * may be absent, they default to their own id). A pipeline that already ran near-dedup
    * feeds its cluster frame here and pays LSH + connected components
    * ONCE end-to-end; the self-contained overload above stays the
    * convenience path. */
  def leakSafeSplitClustered(docs: DataFrame, idCol: String,
      clusters: DataFrame, trainFrac: Double = 0.8, valFrac: Double = 0.1,
      salt: String = "graft-split"): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      "need 0 < trainFrac, 0 <= valFrac, trainFrac + valFrac < 1")
    val withCluster = docs.select(col(idCol))
      .join(clusters.withColumnRenamed("id", "__cid"),
        col(idCol) === col("__cid"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    val u = md5Prefix32(col("cluster_id"), s"$salt:") / lit(4294967296.0)
    withCluster.withColumn("split",
      when(u < trainFrac, "train")
        .when(u < trainFrac + valFrac, "val")
        .otherwise("test"))
  }
}
