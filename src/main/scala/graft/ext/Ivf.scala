package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the clustered
  * alternative to random-hyperplane LSH (`Similarity`): partition the
  * corpus into k cells around trained centroids, search only the closest
  * `nprobe` cells.
  *
  * Scale shape: centroids are tiny (k × dim doubles) and live on the
  * driver / in literals — assignment is a per-row codegen'd expression, so
  * cell assignment is a map-only pass. At warehouse scale the corpus is
  * written partitioned by `cell`, so a query reads `nprobe` partitions,
  * not the corpus. Training is Lloyd's algorithm where each iteration is
  * one distributed aggregation (posexplode → avg per (cell, dim)) — the
  * driver only ever holds k × dim numbers.
  *
  * Deterministic: initial centroids are a hash-ordered sample of k
  * vectors (md5 over a fixed salt + id) — corpus-spanning regardless of
  * how ids correlate with ingest order, yet reproducible run-to-run.
  */
object Ivf {

  /** Fixed salt for the deterministic init sample. */
  private[ext] val InitSalt = "graft-kmeans-init"

  /** Cell count sized to the corpus: nlist ≈ √n (the standard IVF rule)
    * balances Lloyd's assignment cost (n·k per pass — k centroids
    * compared per row) against per-probe scan size (n/k per cell), so
    * both grow as √n instead of one of them going linear. The gate
    * queries pin small demo cell counts for oracle parity; at warehouse
    * scale derive n from table statistics and pass this to `build`. */
  def autoCells(n: Long, minCells: Int = 4, maxCells: Int = 65536): Int =
    math.min(maxCells, math.max(minCells,
      math.round(math.sqrt(math.max(0L, n).toDouble)).toInt))

  /** Deterministic corpus-spanning pick of k seed rows: ordering by the
    * FIRST k ids would start all centroids inside one ingest slice at
    * warehouse scale (ids correlate with load batches), and Lloyd's may
    * not recover in a few iterations; ordering by a salted hash of the id
    * costs the same one pass but spreads the seeds across the corpus. */
  private[ext] def initSample(corpus: DataFrame, embCol: String,
      idCol: String, k: Int): Array[org.apache.spark.sql.Row] =
    corpus
      .orderBy(md5(concat_ws("|", lit(InitSalt), col(idCol).cast("string"))),
        col(idCol))
      .limit(k)
      .select(col(embCol)).collect()

  /** Index (0-based) of the nearest centroid (ties break to the lowest
    * index — deterministic). `graft.functions.NearestCentroid` is a
    * native expression with `doGenCode` — a k×dim primitive loop per row —
    * where the HOF formulation (aggregate ∘ zip_with per centroid) would
    * interpret its lambdas per element. */
  def nearestCell(spark: org.apache.spark.sql.SparkSession, emb: Column,
      centroids: Seq[Seq[Double]]): Column =
    graft.functions.VectorOps.nearestCentroid(spark, emb, centroids)

  /** Lloyd's k-means on the embedding column; returns k centroids.
    *
    * `roundMeansTo`: when set, every recomputed mean is rounded to that
    * many decimals (HALF_UP, after a +1e-9 nudge) before the next
    * assignment pass. An engine-parity lever, not a quality one: summing
    * a cell's members in a different order perturbs the mean by ~1 ulp,
    * and an unrounded ulp can flip a near-tied argmin in the NEXT
    * iteration — so any oracle that mirrors this training (x_semdedup)
    * uses the rounded form on both sides. Seeds are exact float casts
    * and are never rounded. */
  def train(corpus: DataFrame, embCol: String, idCol: String, k: Int,
      iters: Int = 5, roundMeansTo: Option[Int] = None): Seq[Seq[Double]] = {
    var centroids: Seq[Seq[Double]] = initSample(corpus, embCol, idCol, k)
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    // dim from the sampled seed rows — the dedicated
    // `corpus.select(size(emb)).first()` probe was one more
    // driver-blocking job per training for a value the sample already
    // carries (r19; dims are uniform by the operator's contract)
    val dim = centroids.headOption.map(_.size).getOrElse(0)
    require(dim > 0, s"cannot train IVF on an empty corpus or embeddings (dim $dim)")
    (1 to iters).foreach { _ =>
      // cell assignment in a PROJECTION BELOW the Generate, exploded in a
      // second select — evaluated once per row (Generate only forwards
      // `cell` per emitted element; CollapseProject cannot merge a Project
      // through Generate). r19: this replaces the r11 assign-then-JOIN
      // shape, which shuffled the full exploded corpus (n·dim rows) plus
      // the assignment frame EVERY iteration just to glue `cell` onto
      // `(pos, v)` — guide §2.4, remove shuffles outright: the only
      // remaining exchange per iteration is the k·dim-group partial
      // aggregate. (Putting nearestCell NEXT TO posexplode in one
      // projection would re-evaluate it per exploded element — dim× the
      // work; the two-step select keeps exactly one evaluation per row.)
      val assigned = corpus
        .select(nearestCell(corpus.sparkSession, col(embCol), centroids)
          .as("cell"), col(embCol))
        .select(col("cell"), posexplode(col(embCol)).as(Seq("pos", "v")))
      val means = assigned.groupBy("cell", "pos")
        .agg(avg(col("v").cast("double")).as("m"))
        .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Int]("pos"),
          r.getAs[Double]("m")))
      val byCell = means.groupBy(_._1)
      def parity(m: Double): Double = roundMeansTo match {
        case Some(s) => BigDecimal(m + 1e-9)
          .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
        case None => m
      }
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        byCell.get(i) match {
          case Some(ms) =>
            val arr = new Array[Double](dim)
            ms.foreach { case (_, p, m) => arr(p) = parity(m) }
            arr.toSeq
          case None => old // empty cell keeps its centroid
        }
      }
    }
    centroids
  }

  /** Cell assignment column for writing the corpus partitioned by cell. */
  def withCell(corpus: DataFrame, embCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    corpus.withColumn("cell",
      nearestCell(corpus.sparkSession, col(embCol), centroids))

  /** The `nprobe` nearest cell indices for a VECTOR COLUMN (per-row
    * probe ranking — no driver involvement, so it works for query SETS,
    * not just a single driver-side vector). HOF arithmetic over the
    * centroid literal: k is small (cells, not rows), so the interpreted
    * lambda costs k·dim flops per row — the same work the codegen argmin
    * does, acceptable off the per-corpus-row hot path. Ties break to the
    * lower cell index (struct sort on (distance, index)). */
  def probedCells(emb: Column, centroids: Seq[Seq[Double]],
      nprobe: Int): Column = {
    require(nprobe >= 1 && nprobe <= centroids.size, "1 <= nprobe <= k")
    val cents = array(centroids.map(c => array(c.map(lit): _*)): _*)
    val paired = zip_with(
      transform(cents, c => aggregate(
        zip_with(c, emb, (a, b) => (a - b.cast("double")) * (a - b.cast("double"))),
        lit(0.0), _ + _)),
      sequence(lit(0), lit(centroids.size - 1)),
      (d, i) => struct(d.as("d"), i.as("i")))
    transform(slice(array_sort(paired), 1, nprobe), s => s.getField("i"))
  }

  /** Batch ANN join: top-k cosine neighbors for EVERY query row, IVF
    * style — the bulk-retrieval shape (RAG index refresh, eval sweeps).
    * Corpus rows carry ONE cell (codegen argmin); each query replicates
    * to its `nprobe` nearest cells and the candidate set is one equi-join
    * on `cell` — never queries × corpus. Each (query, neighbor) pair
    * appears exactly once (a corpus row lives in one cell), so the
    * per-query top-k window needs no dedup. At warehouse scale the
    * corpus side is the cell-partitioned index table: the join reads
    * only probed partitions. */
  def annJoin(queries: DataFrame, corpus: DataFrame, embCol: String,
      idCol: String, centroids: Seq[Seq[Double]], k: Int,
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorOps.register(corpus.sparkSession)
    val c = withCell(corpus, embCol, centroids)
      .select(col(idCol).as("nbr_id"), col(embCol).as("__nbr_emb"),
        col("cell"))
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("__q_emb"),
      explode(probedCells(col(embCol), centroids, nprobe)).as("cell"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("nbr_id"))
    q.join(c, "cell")
      .select(col("q_id"), col("nbr_id"),
        Similarity.cosineCodegen(col("__q_emb"), col("__nbr_emb"))
          .as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** ANN search: exact cosine within the `nprobe` cells nearest the query. */
  def annTopK(corpus: DataFrame, embCol: String, idCol: String,
      centroids: Seq[Seq[Double]], query: Seq[Double], k: Int,
      nprobe: Int): DataFrame = {
    val cells = centroids.zipWithIndex.map { case (c, i) =>
      val d = c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum
      (d, i)
    }.sortBy(x => (x._1, x._2)).take(nprobe).map(_._2)
    val q = array(query.map(lit): _*)
    graft.functions.VectorOps.register(corpus.sparkSession)
    withCell(corpus, embCol, centroids)
      .filter(col("cell").isin(cells.map(x => x: Any): _*))
      .select(col(idCol),
        Similarity.cosineCodegen(col(embCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }
}
