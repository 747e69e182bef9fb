package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Scale design: brute-force top-k against a single query vector is a
  * broadcast of the query + one map-side pass + a TakeOrdered — no shuffle
  * of the corpus, scales to any corpus size. For query *sets*, the LSH
  * (random hyperplane) path buckets both sides so the join is equi on
  * (bucket) instead of a cross product; recall is tuned by signature bits
  * and by probing neighboring buckets.
  *
  * All arithmetic is done in double (embeddings cast up from float).
  * Vector math runs through `graft.functions.VecDot`, a native Catalyst
  * expression with `doGenCode` (a primitive loop per row) — the
  * higher-order-function formulation (`aggregate(zip_with(...))`)
  * interprets its lambda per element and never enters codegen.
  */
object Similarity {
  import graft.functions.VectorOps

  /** Codegen cosine (handles float/double element mixes without a
    * transform-cast pass). */
  def cosineCodegen(a: Column, b: Column): Column =
    VectorOps.vecDot(a, b) /
      nullif(VectorOps.vecNorm(a) * VectorOps.vecNorm(b), lit(0.0))

  /** Per-group embedding centroid (mean vector) — class prototypes,
    * per-language/source anchors, cluster summaries. Shape at scale: one
    * posexplode then ONE partial-aggregating shuffle keyed (group, pos) —
    * map-side combine reduces each partition to |groups|·dim partial sums
    * before the exchange, so shuffle volume is bounded by group count,
    * not row count; the per-group array reassembles from dim rows via a
    * sorted struct collect (deterministic order, never a raw
    * collect_list). */
  def groupCentroids(df: DataFrame, embCol: String,
      groupCol: String): DataFrame =
    df.select(col(groupCol),
        posexplode(col(embCol)).as(Seq("__pos", "__v")))
      .groupBy(groupCol, "__pos")
      .agg(avg(col("__v").cast("double")).as("__m"),
        count(lit(1)).as("__n"))
      .groupBy(groupCol)
      .agg(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__m")))),
          e => e.getField("__m")).as("centroid"),
        max(col("__n")).as("n_vectors"))

  /** Exact top-k by cosine against one query vector (broadcast). */
  def topKCosine(corpus: DataFrame, embCol: String, idCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    graft.core.Tables.spread(corpus).select(col(idCol),
      cosineCodegen(col(embCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic ±1 random hyperplanes (seeded), shared with oracle SQL
    * generation so external engines can reproduce the bucketing. */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(if (rnd.nextBoolean()) 1 else -1))
  }

  /** Random-hyperplane LSH bucket id: one bit per plane = sign of the
    * projection. Same-bucket vectors are cosine-similar candidates.
    * Projections run through the codegen `vec_dot`. */
  def lshBucket(emb: Column, planes: Seq[Seq[Int]]): Column =
    concat_ws("", planes.map { p =>
      val plane = array(p.map(v => lit(v.toDouble)): _*)
      when(VectorOps.vecDot(emb, plane) > 0, "1").otherwise("0")
    }: _*)

  /** Multiprobe bucket list for `query`: its exact bucket first, then
    * buckets reached by flipping ONE plane bit each, in ascending
    * |projection| order (query-directed multiprobe: the planes the query
    * sits closest to are the ones most likely to have cut off true
    * neighbors), `probes` buckets in total. Driver-side — the query
    * vector is already on the driver; the list becomes a literal IN
    * filter the scan can prune on. */
  def probeBuckets(query: Seq[Double], planes: Seq[Seq[Int]],
      probes: Int): Seq[String] = {
    require(probes >= 1 && probes <= planes.size + 1,
      s"probes must be in [1, bits+1], got $probes for ${planes.size} bits")
    val projs = planes.map(_.zip(query).map { case (w, x) => w * x }.sum)
    val exact = projs.map(p => if (p > 0) "1" else "0").mkString
    val flipOrder = projs.zipWithIndex
      .sortBy { case (p, i) => (math.abs(p), i) }.map(_._2)
    exact +: flipOrder.take(probes - 1).map(i =>
      exact.updated(i, if (exact(i) == '1') '0' else '1'))
  }

  /** ANN top-k: restrict the exact cosine scan to the query's LSH bucket —
    * plus, with `probes` > 1, the nearest-margin neighboring buckets
    * (multiprobe: recall recovered by probing more buckets instead of
    * dropping signature bits, which would coarsen EVERY query's buckets).
    * At scale the corpus is written bucketed/partitioned by this column, so
    * the candidate read is a partition-pruned scan of `probes` partitions,
    * not a full pass. */
  def annTopKCosine(corpus: DataFrame, embCol: String, idCol: String,
      query: Seq[Double], k: Int, bits: Int = 8, probes: Int = 1): DataFrame = {
    val planes = hyperplanes(bits, query.size)
    val buckets = probeBuckets(query, planes, probes)
    val q = array(query.map(lit): _*)
    graft.core.Tables.spread(corpus)
      .withColumn("bucket", lshBucket(col(embCol), planes))
      .filter(col("bucket").isin(buckets: _*))
      .select(col(idCol), cosineCodegen(col(embCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** k-NN join: top-`k` cosine neighbors for EVERY vector, candidates
    * restricted to the vector's LSH bucket (bucket equi-join + per-key
    * top-k, never a cross product).
    *
    * Quadratic guard: within-bucket pair count grows O(Σ bucketSize²) —
    * with few bits or a skewed corpus one hot bucket goes quadratic.
    * `maxBucketCandidates` hard-caps the CANDIDATE side per bucket
    * (kept deterministically by ascending id), bounding work at
    * O(rows × cap). The cap trades recall, never correctness of the
    * top-k over the surviving candidates. The scale levers, in order:
    * size `bits` so expected bucket size ≈ the cap (buckets double per
    * bit), then recover recall with multiprobe (also query the buckets
    * at Hamming distance 1, ×(bits+1) candidates) rather than fewer
    * bits. The cap is the backstop for the skew the levers don't catch.
    *
    * @param cosineTransform applied to the raw cosine BEFORE ranking
    *        (e.g. rounding so the rank cut reproduces across engines)
    * @param probes buckets probed PER QUERY ROW: its exact bucket plus
    *        `probes - 1` one-bit flips across its nearest-|margin|
    *        planes (per-row multiprobe — the distributed analogue of
    *        [[probeBuckets]]). Only the query side replicates (×probes);
    *        the candidate side keeps one exact bucket per row, so a pair
    *        can match at most once and no dedup pass is needed.
    */
  def knnJoin(corpus: DataFrame, embCol: String, idCol: String, k: Int,
      bits: Int, dim: Int, maxBucketCandidates: Int = 10000,
      cosineTransform: Column => Column = identity,
      probes: Int = 1): DataFrame = {
    require(maxBucketCandidates >= 1, "maxBucketCandidates must be >= 1")
    require(probes >= 1 && probes <= bits + 1,
      s"probes must be in [1, bits+1], got $probes")
    val planes = hyperplanes(bits, dim)
    // norms once per vector before the pair join (not per pair)
    val b = graft.core.Tables.spread(corpus)
      .select(col(idCol), col(embCol).as("__e"),
        lshBucket(col(embCol), planes).as("bucket"))
      .withColumn("__norm", VectorOps.vecNorm(col("__e")))
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col(idCol))
    val r = b
      .withColumn("__rn", row_number().over(capW))
      .filter(col("__rn") <= maxBucketCandidates)
      .select(col("bucket"), col(idCol).as("nbr_id"),
        col("__e").as("__b"), col("__norm").as("__bn"))
    val l = (if (probes == 1) b else {
      // per-row probe list: exact bucket + flips of the (probes-1)
      // nearest-|margin| planes — all array expressions, no UDF
      val projs = array(planes.map(p =>
        VectorOps.vecDot(col("__e"),
          array(p.map(v => lit(v.toDouble)): _*))): _*)
      val bitsArr = transform(projs,
        p => when(p > 0, "1").otherwise("0"))
      val flipIdx = slice(
        transform(
          array_sort(transform(projs,
            (p, i) => struct(abs(p).as("m"), i.as("i")))),
          s => s.getField("i")),
        1, probes - 1)
      val probeArr = concat(
        array(array_join(bitsArr, "")),
        transform(flipIdx, f =>
          array_join(transform(bitsArr, (bit, i) =>
            when(i === f, when(bit === "1", "0").otherwise("1"))
              .otherwise(bit)), "")))
      b.withColumn("bucket", explode(probeArr))
    }).select(col("bucket"), col(idCol),
      col("__e").as("__a"), col("__norm").as("__an"))
    val cs = l.join(r, "bucket").filter(col(idCol) =!= col("nbr_id"))
      .select(col(idCol), col("nbr_id"),
        cosineTransform(VectorOps.vecDot(col("__a"), col("__b")) /
          nullif(col("__an") * col("__bn"), lit(0.0))).as("cosine"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("cosine").desc, col("nbr_id"))
    cs.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
  }

  /** Signature width sized so the EXPECTED bucket population is
    * ≈ `targetBucketSize`: bits = ceil(log2(n / target)), clamped.
    * This is THE scale lever for the bucketed pair joins ([[knnJoin]],
    * [[nearDupEmbeddings]]): with bits fixed, in-bucket pairs grow
    * O(n²/2^bits) — measured 53× wall-clock for 10× vectors at 16
    * buckets — while bits sized to n keeps per-bucket pairs ≈ target²
    * and total work ≈ n × target, linear in n. */
  def autoBits(n: Long, targetBucketSize: Int, minBits: Int = 4,
      maxBits: Int = 24): Int = {
    require(targetBucketSize >= 1, "targetBucketSize must be >= 1")
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucketSize)) / math.log(2)).toInt
    math.min(maxBits, math.max(minBits, needed))
  }

  /** [[knnJoin]] with the signature width auto-sized from the corpus
    * cardinality ([[graft.core.RowCounts.hint]]: catalog stats or parquet
    * footer metadata — no count job for a plain scan). Smaller buckets
    * trade recall for the linear-in-n bound; recover recall with `probes`
    * (multiprobe widens the query side only) rather than fewer bits. */
  def knnJoinAuto(corpus: DataFrame, embCol: String, idCol: String, k: Int,
      dim: Int, targetBucketSize: Int = 512,
      maxBucketCandidates: Int = 10000,
      cosineTransform: Column => Column = identity,
      probes: Int = 1): DataFrame =
    knnJoin(corpus, embCol, idCol, k,
      bits = autoBits(graft.core.RowCounts.hint(corpus), targetBucketSize),
      dim = dim,
      maxBucketCandidates = maxBucketCandidates,
      cosineTransform = cosineTransform, probes = probes)

  /** All-pairs near-duplicate embeddings via LSH buckets: exact cosine only
    * within buckets (equi-join), never across the full cross product. */
  def nearDupEmbeddings(corpus: DataFrame, embCol: String, idCol: String,
      threshold: Double, bits: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(bits, dim)
    // Norms are computed ONCE per vector before the pair join (computing
    // cosineCodegen per pair would re-derive both norms for every candidate —
    // 3x the array passes). Float arrays stay float end-to-end:
    // vec_dot widens per element in its codegen loop, and the pair join
    // shuffles half the bytes a transform-cast to double would carry.
    val b = graft.core.Tables.spread(corpus).select(col(idCol),
      col(embCol).as("__e"),
      lshBucket(col(embCol), planes).as("bucket"))
      .withColumn("__norm", VectorOps.vecNorm(col("__e")))
    val l = b.select(col("bucket"), col(idCol).as("a_id"),
      col("__e").as("a_emb"), col("__norm").as("a_norm"))
    val r = b.select(col("bucket"), col(idCol).as("b_id"),
      col("__e").as("b_emb"), col("__norm").as("b_norm"))
    l.join(r, "bucket").filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (VectorOps.vecDot(col("a_emb"), col("b_emb")) /
          nullif(col("a_norm") * col("b_norm"), lit(0.0))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ---- scalar quantization ----------------------------------------------

  /** Symmetric int8 scalar quantization: clamp to ±clip, map to [-127,127].
    * `floor(x + 0.5)` instead of round() so the rounding rule is a plain
    * arithmetic expression every engine evaluates identically. 4× smaller
    * than float32 — the cheapest memory lever for a resident ANN corpus
    * (PQ in `ext.Pq` is the next 8-32× after this). Pure projection:
    * quantizing 100 TB is a scan, no shuffle. */
  def sq8Codes(emb: Column, clip: Double = 1.0): Column =
    transform(emb, x =>
      floor(least(greatest(x.cast("double"), lit(-clip)), lit(clip))
        / clip * 127 + 0.5).cast("long"))

  /** Mean squared reconstruction error of the sq8 codes against the
    * original vector — the quality probe you track when deciding whether
    * int8 (vs PQ vs float16) is enough for a corpus. */
  def sq8Mse(emb: Column, clip: Double = 1.0): Column = {
    val codes = sq8Codes(emb, clip)
    val n = size(emb)
    aggregate(
      zip_with(emb, codes, (x, c) =>
        pow(x.cast("double") - c.cast("double") / 127.0 * clip, 2)),
      lit(0.0), (acc, e) => acc + e) / nullif(n, lit(0)).cast("double")
  }
}
