package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer: vocabulary-grain training
  * and row-local encoding — the canonical "train a tokenizer on the
  * corpus, then tokenize the corpus" step of an LLM data pipeline
  * (Sennrich et al. 2016's algorithm, re-expressed as Spark plans).
  *
  * Scale shape (100 TB):
  *   - Training never iterates over the CORPUS: one corpus-wide
  *     word-count aggregate (the only corpus-sized shuffle) collapses it
  *     to a (word, freq) VOCAB — millions of rows at web scale, cached
  *     once. Each merge round is then a vocab-sized pair-count aggregate
  *     plus a 1-row argmax fetch: driver-coordinated bounded iteration,
  *     the same pattern as [[Graph.pageRank]]. Merge application is a
  *     row-local string `replace`; lineage is truncated every
  *     `checkpointEvery` rounds so the plan never grows unbounded.
  *   - Encoding is a pure projection: the learned merge list ships as
  *     the plan-time-built rank index of ONE native expression
  *     ([[graft.functions.BpeEncodeText]]) — O(1) plan depth regardless
  *     of merge count (a naive chain of `replace` calls would nest the
  *     plan `numMerges` deep and break analysis at real vocab sizes),
  *     O(appliedMerges × wordLen) per word independent of the list's
  *     length, whole-stage-codegen'd, no UDF, no shuffle. The id
  *     lookup ([[encodeIds]]) is the same pattern
  *     ([[graft.functions.VocabLookupAll]]); the r13 all-builtins
  *     `aggregate`-HOF fold survives as [[encodeFold]], the
  *     independently-derived parity baseline.
  *
  * Symbol-string representation (shared with the DuckDB oracle, which
  * mirrors the algorithm CTE-for-CTE): a word's symbols are joined by
  * TWO spaces, and every merge pattern carries one boundary space on
  * each side — `" a  b " → " ab "`. The doubled separator makes
  * adjacent matches share no characters, so a single leftmost
  * non-overlapping replace-all (identical semantics in Spark and
  * DuckDB) applies one merge exactly like the classic greedy
  * left-to-right scan: `[a,a,a]` merges to `[aa,a]`, and token
  * boundaries can never false-match inside a longer symbol. Words are
  * lowercased and whitespace-tokenized like the rest of the text
  * stack; no end-of-word marker (merges cannot cross words at vocab
  * grain, so the marker would only distinguish word-final tokens —
  * documented simplification).
  */
object Bpe {

  /** One learned merge: rank-ordered, `lhs + rhs → merged`. */
  final case class Merge(rank: Int, lhs: String, rhs: String, count: Long)

  /** The tokenizer's word stream: the engine-wide whitespace
    * tokenization ([[TextAnalysis.tokens]]) over lowercased text — ONE
    * definition, shared with the gate queries, so a tokenization tweak
    * can never desynchronize encode from its reported word counts. */
  private[graft] def ltoks(textCol: Column): Column =
    TextAnalysis.tokens(lower(textCol))

  /** Initial symbol string of a word: its characters joined by the
    * doubled separator (no wrap spaces stored; merge steps add them). */
  private def initRepr(w: Column): Column =
    array_join(transform(sequence(lit(1), length(w)),
      i => w.substr(i, lit(1))), "  ")

  /** Corpus → (word, freq) vocabulary: the single corpus-sized
    * aggregate of the whole training pass. */
  def vocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(ltoks(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** One round's driver-side batch selection (exposed for the spec):
    * from candidates ranked (cnt DESC, lhs, rhs), take the maximal
    * PREFIX that sequential training provably resolves identically.
    *
    * The interaction algebra of one merge (x,y) → "xy": it DESTROYS
    * occurrences of exactly the pairs (·,x) and (y,·) (the consumed x
    * is one followed by y; the consumed y one preceded by x), CREATES
    * pairs over the new token "xy", and leaves every other pair's
    * count bit-identical — in particular (x,z≠y) and (w≠x,y) are
    * untouched. Hence:
    *
    *   - rank 1 is always selected (sequential takes it unconditionally);
    *   - stop at the first candidate whose lhs equals an earlier
    *     selection's rhs or whose rhs equals an earlier selection's lhs
    *     (its count may have decreased), or that touches an earlier
    *     selection's merged token string, or whose own concatenation
    *     equals an existing symbol or an earlier selection's merged
    *     string (merging would GROW pre-existing pairs over that
    *     symbol — the (a,bc)/(ab,c) → "abc" collision case — which can
    *     overtake later picks);
    *   - truncate trailing selections whose count does not STRICTLY
    *     exceed the first unselected candidate's count: every pair a
    *     batch merge can create (bounded by a destroyed pair, which
    *     conflicts and therefore ranks below the batch) then counts at
    *     most the sentinel, so strict dominance guarantees no tie can
    *     reorder the sequential picks.
    *
    * The selected prefix IS the next |batch| sequential merges —
    * batched ≡ sequential for ANY corpus (BpeSpec proves it at 512
    * sustained merges, through exhaustion, and on adversarial
    * small-alphabet corpora). Measured honestly (docs/SCALING.md):
    * natural text's top pairs share symbols heavily ((t,h)/(h,e)/(e,r)
    * all chain), so the conflict-stop keeps exact batches SMALL — the
    * gate corpus runs 89 merges in 77 rounds. Batching is a constant-
    * factor improvement on the distributed path; the production-vocab
    * answer is [[trainLocal]] (collect the bounded word vocab, run the
    * classic incremental loop driver-side — zero per-merge jobs). */
  private[graft] def selectBatch(cands: Seq[(String, String, Long)],
      cap: Int, symbols: Set[String]): Seq[(String, String, Long)] = {
    val selected = Seq.newBuilder[(String, String, Long)]
    var lhsSel = Set.empty[String]
    var rhsSel = Set.empty[String]
    var mSel = Set.empty[String]
    var n = 0
    var stop = false
    val it = cands.iterator
    while (!stop && n < cap && it.hasNext) {
      val c @ (a, b, _) = it.next()
      val m = a + b
      val conflict = rhsSel(a) || lhsSel(b) ||
        mSel(a) || mSel(b) || mSel(m) || symbols(m)
      if (n > 0 && conflict) stop = true
      else {
        selected += c
        lhsSel += a; rhsSel += b; mSel += m
        n += 1
        if (symbols(m)) stop = true // selected, but nothing after is safe
      }
    }
    val sel = selected.result()
    // strict-dominance truncation against the first unselected candidate
    if (cands.lengthCompare(sel.size) > 0) {
      val sentinel = cands(sel.size)._3
      sel.take(1) ++ sel.drop(1).takeWhile(_._3 > sentinel)
    } else sel
  }

  /** Learns `numMerges` merges. Ties break deterministically on
    * (count DESC, lhs ASC, rhs ASC). Stops early if no pair remains.
    * Each driver round runs one vocab-grain pair-count aggregate and a
    * bounded (batchSize+1)-row fetch, then applies the whole
    * [[selectBatch]] batch in one projection (an `aggregate`-HOF fold,
    * plan depth O(1) per round) — so a 32k–100k production vocab costs
    * ~vocabSize/batch driver rounds, not vocabSize. Results are
    * IDENTICAL to one-merge-per-round training for any batchSize
    * (`batchSize = 1` is that algorithm). The evolving symbol strings
    * localCheckpoint every `checkpointEvery` merges to truncate
    * lineage. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      checkpointEvery: Int = 16, batchSize: Int = 64): Seq[Merge] =
    trainRounds(df, textCol, numMerges, checkpointEvery, batchSize)._1

  /** [[train]] plus the driver-round count (each round = one vocab-grain
    * pair-count job + one bounded fetch) — the number a production-vocab
    * cost model needs (rounds × per-round latency; see
    * tools.BpeTrainBench and docs/SCALING.md). */
  private[graft] def trainRounds(df: DataFrame, textCol: String,
      numMerges: Int, checkpointEvery: Int = 16,
      batchSize: Int = 64): (Seq[Merge], Int) = {
    require(numMerges > 0, "numMerges must be positive")
    require(batchSize > 0, "batchSize must be positive")
    // materialize the word count ONCE (r18): the symbol-inventory collect
    // and the initial-repr checkpoint below are separate ACTIONS over
    // this lazy frame — without the checkpoint each re-ran the
    // corpus-sized word-count shuffle (exchange reuse never spans jobs).
    // The frame is vocab-grain (distinct words + freq), so the
    // materialization is bounded regardless of corpus size.
    val words = vocab(df, textCol).localCheckpoint()
    // symbol inventory = base charset ∪ merges applied so far: bounded
    // (alphabet + vocab sized), maintained driver-side with no extra
    // per-round job; feeds selectBatch's grown-pair collision guard
    var symbols = words
      .select(explode(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    var v = words
      .select(initRepr(col("w")).as("s"), col("freq"))
      .localCheckpoint()
    val out = Seq.newBuilder[Merge]
    var k = 1
    var rounds = 0
    var sinceCheckpoint = 0
    var exhausted = false
    while (k <= numMerges && !exhausted) {
      rounds += 1
      val cap = math.min(batchSize, numMerges - k + 1)
      val toks = split(col("s"), "  ")
      val cands = v
        .filter(size(toks) > 1)
        .select(explode(transform(sequence(lit(0), size(toks) - lit(2)),
          i => struct(element_at(toks, i + 1).as("a"),
            element_at(toks, i + 2).as("b")))).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(cap + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      if (cands.isEmpty) exhausted = true
      else {
        val batch = selectBatch(cands, cap, symbols)
        batch.foreach { case (a, b, c) =>
          out += Merge(k, a, b, c)
          symbols += (a + b)
          k += 1
        }
        val mlit = typedlit(batch.map { case (a, b, _) => (a, b) })
        v = v.select(
          trim(aggregate(mlit, concat(lit(" "), col("s"), lit(" ")),
            (acc, m) => replace(acc,
              concat(lit(" "), m("_1"), lit("  "), m("_2"), lit(" ")),
              concat(lit(" "), m("_1"), m("_2"), lit(" "))))).as("s"),
          col("freq"))
        sinceCheckpoint += batch.size
        if (sinceCheckpoint >= checkpointEvery) {
          v = v.localCheckpoint()
          sinceCheckpoint = 0
        }
      }
    }
    (out.result(), rounds)
  }

  /** Production-vocab training: the corpus-sized work (word counting)
    * stays distributed, the merge LOOP runs driver-side on the collected
    * (word, freq) vocabulary — the classic incremental BPE trainer every
    * production tokenizer uses (SentencePiece/HF train exactly this way:
    * the merge loop is vocab-sized work and belongs where iteration is
    * free). Result is IDENTICAL to [[train]] — same counts, same
    * (cnt DESC, lhs, rhs) tie-break in binary/UTF-8 order ([[utf8Lt]]),
    * same greedy left-to-right merge application, same early stop —
    * BpeSpec proves equality through exhaustion and at 512 sustained
    * merges.
    *
    * Scale shape (100 TB): ONE corpus-sized shuffle (word count), one
    * bounded driver fetch — `maxVocabWords` is the explicit budget, and
    * the count is checked BEFORE collecting so an unexpectedly diverse
    * corpus never OOMs the driver. Over budget at floor 1 it returns
    * the distributed [[train]]'s merges instead (result-identical, one
    * job per round). With `minWordFreq > 1` it fails loudly instead:
    * [[train]] has no word floor, so falling back would silently return
    * the unfloored merges.
    * The loop itself is O(total symbols) amortized per merge via
    * incremental pair-count maintenance + a lazy-deletion heap: a
    * 32k–100k vocab trains in driver seconds with ZERO per-merge Spark
    * jobs, vs [[train]]'s one-job-per-round (measured ~0.2 s/round
    * floor — hours at 100k rounds; docs/SCALING.md has the table).
    *
    * `minWordFreq` is the raw-web-crawl valve: a 100 TB crawl's
    * distinct-word count (URLs, typos, numbers, hashes) blows past any
    * driver budget, but its mass is concentrated — a small frequency
    * floor applied INSIDE the distributed word count (before anything
    * is fetched) collapses the heavy tail to a bounded vocabulary, the
    * same knob every production trainer exposes (SentencePiece/HF
    * `min_frequency`). Effect on learned merges: a word below the floor
    * contributes NOTHING to pair counts, so merges can differ from the
    * unfloored run only where sub-floor words' pair mass would have
    * changed a ranking — negligible by construction (each dropped word
    * contributes < minWordFreq per pair occurrence) and floor=1 is
    * bit-identical to no floor (spec-proven). */
  def trainLocal(df: DataFrame, textCol: String, numMerges: Int,
      maxVocabWords: Long = 10000000L, minWordFreq: Long = 1L): Seq[Merge] = {
    require(numMerges > 0, "numMerges must be positive")
    require(minWordFreq >= 1L, "minWordFreq must be >= 1")
    // floor applied pre-collect, distributed — the whole point: the
    // driver never sees (nor counts against its budget) sub-floor words.
    // Persisted (r18): the budget-guard count and the collect are two
    // actions — lazy, each would run the corpus word-count shuffle. Freed
    // before training, so an over-budget vocab does not hold storage
    // memory through the fallback's per-round jobs.
    val words = vocab(df, textCol).filter(col("freq") >= minWordFreq)
      .persist()
    val (n, rows) =
      try {
        val n = words.count()
        (n, if (n > maxVocabWords) None
            else Some(words.collect().map(r => (r.getString(0), r.getLong(1)))))
      } finally words.unpersist()
    rows match {
      case Some(v) => trainOnVocab(v, numMerges)
      case None =>
        require(minWordFreq == 1L,
          s"distinct-word vocabulary ($n, at minWordFreq=$minWordFreq) " +
            s"exceeds the driver budget ($maxVocabWords), and the " +
            "distributed train() has no word floor: raise maxVocabWords " +
            "or minWordFreq, or pre-filter the corpus")
        train(df, textCol, numMerges)
    }
  }

  /** The in-memory merge loop of [[trainLocal]] (exposed for the spec):
    * incremental pair counts + lazy-deletion max-heap, greedy
    * left-to-right merge application per word. */
  private[graft] def trainOnVocab(vocabRows: Array[(String, Long)],
      numMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val syms = vocabRows.map { case (w, _) =>
      // codePoint-grain split: a supplementary-plane char is ONE symbol,
      // matching Spark/DuckDB substr semantics on code points
      val b = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b
    }
    val freqs = vocabRows.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def addPair(p: (String, String), f: Long, idx: Int): Unit = {
      counts.updateWith(p) { c => Some(c.getOrElse(0L) + f) }
      where.getOrElseUpdate(p, mutable.BitSet.empty) += idx
    }
    syms.zipWithIndex.foreach { case (s, idx) =>
      var i = 0
      while (i < s.length - 1) {
        addPair((s(i), s(i + 1)), freqs(idx), idx)
        i += 1
      }
    }
    // max-heap on (cnt, lhs, rhs) with the sequential tie-break: highest
    // count first, then binary-order-SMALLEST lhs/rhs; lazy deletion —
    // entries are re-pushed on every count change and validated on pop
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int =
        if (x._1 != y._1) java.lang.Long.compare(x._1, y._1)
        else if (x._2 != y._2) { if (utf8Lt(x._2, y._2)) 1 else -1 }
        else if (x._3 != y._3) { if (utf8Lt(x._3, y._3)) 1 else -1 }
        else 0
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    counts.foreach { case ((a, b), c) => heap.enqueue((c, a, b)) }
    val out = Seq.newBuilder[Merge]
    var k = 1
    while (k <= numMerges && heap.nonEmpty) {
      val (c, a, b) = heap.dequeue()
      if (counts.get((a, b)).contains(c) && c > 0) {
        out += Merge(k, a, b, c)
        k += 1
        val touched = mutable.Set.empty[(String, String)]
        val wordIdxs = where.getOrElse((a, b), mutable.BitSet.empty)
        wordIdxs.foreach { idx =>
          val s = syms(idx)
          val f = freqs(idx)
          // stale index entries are possible (the pair may have been
          // merged away in this word); verify adjacency before rewriting
          var hit = false
          var i = 0
          while (!hit && i < s.length - 1) {
            hit = s(i) == a && s(i + 1) == b
            i += 1
          }
          if (hit) {
            def bump(p: (String, String), d: Long): Unit = {
              counts.updateWith(p) { c0 =>
                val nc = c0.getOrElse(0L) + d
                if (nc <= 0L) None else Some(nc)
              }
              touched += p
            }
            var j = 0
            while (j < s.length - 1) { bump((s(j), s(j + 1)), -f); j += 1 }
            // greedy left-to-right, identical to one doubled-space
            // replace-all: adjacent (a,b) merges, consumed symbols skip
            val ns = mutable.ArrayBuffer.empty[String]
            var i2 = 0
            while (i2 < s.length) {
              if (i2 < s.length - 1 && s(i2) == a && s(i2 + 1) == b) {
                ns += (a + b); i2 += 2
              } else { ns += s(i2); i2 += 1 }
            }
            syms(idx) = ns
            var j2 = 0
            while (j2 < ns.length - 1) {
              val p = (ns(j2), ns(j2 + 1))
              addPair(p, f, idx)
              touched += p
              j2 += 1
            }
          }
        }
        where.remove((a, b))
        touched.foreach { p =>
          counts.get(p).foreach(c2 => heap.enqueue((c2, p._1, p._2)))
        }
      }
    }
    out.result()
  }

  /** Learned merges as a one-row-per-merge frame (the reporting shape
    * of `x_bpe_train`). */
  def trainDf(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    train(df, textCol, numMerges)
      .map(m => (m.rank, m.lhs, m.rhs, m.lhs + m.rhs, m.count))
      .toDF("rank", "lhs", "rhs", "merged", "cnt")
  }

  /** Binary (UTF-8 byte) string order — the collation BOTH engines use
    * for ORDER BY (Spark's UTF8String and DuckDB compare bytewise),
    * equal to code-point order. Scala/Java's natural `String` sort is
    * UTF-16 code-UNIT order instead, which ranks supplementary-plane
    * characters (emoji) BELOW U+E000–U+FFFF — a silent oracle
    * divergence on non-BMP corpora. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** Token-id vocabulary for a trained tokenizer: base symbols (the
    * corpus's distinct word characters, in binary/code-point order —
    * see [[utf8Lt]]) take ids 0..B-1, and merge k's token takes id
    * B+k-1 — deterministic given (corpus, merges), no RNG, no
    * registration order. The base charset is alphabet-bounded
    * (catalog-sized), so the driver fetch is the same bounded class as
    * the co-occurrence brand dictionary. Fails loudly if two merges
    * concatenate to the same token string (possible in BPE — (a,ab)
    * and (aa,b) both yield "aab"): a duplicate would silently break
    * the dense-id/round-trip invariant in [[encodeIds]]. */
  def tokenVocab(df: DataFrame, textCol: String,
      merges: Seq[Merge]): Seq[(Long, String)] = {
    val base = df.select(explode(ltoks(col(textCol))).as("w"))
      .select(explode(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))).as("t"))
      .distinct().collect().map(_.getString(0)).sortWith(utf8Lt)
    val out = base.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      merges.sortBy(_.rank)
        .map(m => (base.length + m.rank - 1L, m.lhs + m.rhs))
    val dups = out.groupBy(_._2).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"duplicate token string(s) in vocabulary: ${dups.mkString(", ")} — " +
        "two merges concatenate to the same token; encode would silently " +
        "map all occurrences to one id")
    out.toSeq
  }

  /** [[tokenVocab]] as a frame — the reporting shape of `x_bpe_vocab`. */
  def tokenVocabDf(df: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    tokenVocab(df, textCol, merges).toDF("token_id", "token")
  }

  /** [[encode]] plus the id stream: `bpe_ids` maps each subword through
    * the broadcast vocabulary — row-local, no join, O(1) per lookup via
    * the hash-indexed [[graft.functions.VocabLookupAll]] expression
    * (`transform` + `element_at` over a map literal LINEAR-SCANS the
    * literal per subword: measured 38 s vs flat at a 100k vocab on the
    * same data — tools.VocabPlanProbe, docs/SCALING.md). `vocab` comes
    * from [[tokenVocab]] over the TRAINING corpus; a subword of an
    * in-vocabulary character stream cannot miss it (every subword is a
    * base character or a merged token), while a character the training
    * corpus never saw maps to null — the caller's OOV signal. */
  def encodeIds(df: DataFrame, textCol: String, merges: Seq[Merge],
      vocab: Seq[(Long, String)]): DataFrame = {
    graft.functions.VocabLookup.register(df.sparkSession)
    val vlit = typedlit(vocab.map { case (id, t) => (t, id) }.toMap)
    encode(df, textCol, merges)
      .withColumn("bpe_ids",
        graft.functions.VocabLookup.vocabLookupAll(col("bpe_tokens"), vlit))
  }

  /** Applies a learned merge list to every document: adds
    * `bpe_tokens` (array of subword tokens, word order preserved) and
    * `n_bpe_tokens`. Pure projection — the merge list ships as the
    * rank index of one codegen-capable native expression
    * ([[graft.functions.BpeEncodeText]]): O(appliedMerges × wordLen)
    * per word regardless of the list's length, whole-stage-codegen'd,
    * no UDF, no shuffle — so the encode parallelizes embarrassingly
    * and survives any corpus size the scan survives, at production
    * 32k–100k vocab sizes where the r13 `aggregate`-HOF fold (kept
    * below as [[encodeFold]], the parity baseline) pays one
    * interpreted replace-all pass per MERGE per word. */
  def encode(df: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    graft.functions.BpeEncode.register(df.sparkSession)
    val mlit = typedlit(merges.sortBy(_.rank).map(m => (m.lhs, m.rhs)))
    df.withColumn("bpe_tokens",
        graft.functions.BpeEncode.bpeEncodeText(lower(col(textCol)), mlit))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))
  }

  /** The r13 all-builtins encode (an `aggregate`-HOF fold of the merge
    * list over each word's doubled-space symbol string — see the
    * object scaladoc for the representation): kept as the
    * independently-derived parity baseline for [[encode]]'s native
    * expression (BpeSpec proves bit-equality on the gate corpus and
    * adversarial fixtures) and as the reference implementation of the
    * pass-per-rank semantics both engines and the DuckDB oracle
    * share. Interpreted (HOFs are `CodegenFallback`) and
    * O(numMerges × wordLen) per word — correct at any scale, but
    * numMerges-bound at production vocab sizes. */
  private[graft] def encodeFold(df: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val mlit = typedlit(merges.sortBy(_.rank).map(m => (m.lhs, m.rhs)))
    val encWord = (w: Column) =>
      trim(aggregate(mlit, concat(lit(" "), initRepr(w), lit(" ")),
        (acc, m) => replace(acc,
          concat(lit(" "), m("_1"), lit("  "), m("_2"), lit(" ")),
          concat(lit(" "), m("_1"), m("_2"), lit(" ")))))
    val ws = transform(ltoks(col(textCol)), encWord)
    df.withColumn("__ws", ws)
      .withColumn("bpe_tokens",
        flatten(transform(col("__ws"), s => split(s, "  "))))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))
      .drop("__ws")
  }
}
