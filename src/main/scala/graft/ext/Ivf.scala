package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** IVF (inverted-file) approximate nearest neighbor — the clustered
  * alternative to random-hyperplane LSH (`Similarity`): partition the
  * corpus into k cells around trained centroids, search only the closest
  * `nprobe` cells.
  *
  * Scale shape: centroids are tiny (k × dim doubles) and live on the
  * driver / in literals — assignment is a per-row codegen'd expression, so
  * cell assignment is a map-only pass. At warehouse scale the corpus is
  * written partitioned by `cell`, so a query reads `nprobe` partitions,
  * not the corpus. Training is the one Lloyd's kernel ([[lloyd]], shared
  * with PQ and IVF-PQ): each iteration is one distributed aggregation
  * (posexplode → avg per (cell, dim)), and the driver only ever holds
  * k × dim numbers.
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

  /** Lloyd's k-means on the embedding column; returns k centroids: the
    * `m = 1` case of the one k-means kernel, [[lloyd]].
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
      iters: Int = 5, roundMeansTo: Option[Int] = None): Seq[Seq[Double]] =
    lloyd(corpus, embCol, idCol, 1, k, iters, roundMeansTo).head

  /** The one Lloyd's k-means kernel behind [[train]] (m = 1),
    * [[Pq.train]] and [[IvfPq.build]]: k-means in each of `m` equal
    * slices of the embedding, seeded from [[initSample]] (exact double
    * casts). Returns m codebooks: books(j)(c) is centroid c of subspace j.
    *
    * Each iteration is ONE distributed aggregation: the m nearest-centroid
    * indexes are assigned in a projection BELOW the posexplode, so each
    * evaluates once per row (next to posexplode in one projection they
    * would re-evaluate per exploded element, dim× the work), then values
    * average per (subspace, cell, pos). Only the k·dim means reach the
    * driver; a cell that drew no rows keeps its centroid. */
  private[ext] def lloyd(corpus: DataFrame, embCol: String, idCol: String,
      m: Int, k: Int, iters: Int,
      roundMeansTo: Option[Int]): Seq[Seq[Seq[Double]]] = {
    val seeds = initSample(corpus, embCol, idCol, k)
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue()
      }.toIndexedSeq).toSeq
    // dim from the sampled seed rows: no probe job (dims are uniform by
    // the operator's contract)
    val dim = seeds.headOption.map(_.size).getOrElse(0)
    require(dim > 0,
      s"cannot train k-means on an empty corpus or embeddings (dim $dim)")
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    def parity(x: Double): Double = roundMeansTo.fold(x)(s =>
      BigDecimal(x + 1e-9).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble)
    var books: Seq[Seq[Seq[Double]]] = (0 until m).map(j =>
      seeds.map(_.slice(j * subDim, (j + 1) * subDim)))
    val jOf = (col("pos") / subDim).cast("int") // subspace of a position
    (1 to iters).foreach { _ =>
      val means = corpus
        .select(array((0 until m).map(j =>
          VectorOps.nearestCentroid(Pq.subspace(embCol, j, m, subDim),
            books(j))): _*).as("__cells"), col(embCol))
        .select(col("__cells"), posexplode(col(embCol)).as(Seq("pos", "v")))
        .select(jOf.as("j"), pmod(col("pos"), lit(subDim)).as("p"),
          element_at(col("__cells"), jOf + 1).as("cell"), col("v"))
        .groupBy("j", "cell", "p")
        .agg(avg(col("v").cast("double")).as("mn"))
        .collect()
        .map(r => ((r.getAs[Int]("j"), r.getAs[Int]("cell"),
          r.getAs[Int]("p")), r.getAs[Double]("mn"))).toMap
      books = books.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (old, c) =>
          if (means.contains((j, c, 0)))
            (0 until subDim).map(p => parity(means((j, c, p))))
          else old // empty cell
        }
      }
    }
    books
  }

  /** Cell assignment column for writing the corpus partitioned by cell. */
  def withCell(corpus: DataFrame, embCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    corpus.withColumn("cell", VectorOps.nearestCentroid(col(embCol), centroids))

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
    val paired = zip_with(
      transform(matrixLit(centroids), c => aggregate(
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
    val c = withCell(corpus, embCol, centroids)
      .select(col(idCol).as("nbr_id"), col(embCol).as("__nbr_emb"),
        col("cell"))
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("__q_emb"),
      explode(probedCells(col(embCol), centroids, nprobe)).as("cell"))
    topKPerQuery(q.join(c, "cell")
      .select(col("q_id"), col("nbr_id"),
        Similarity.cosineCodegen(col("__q_emb"), col("__nbr_emb"))
          .as("cosine")), col("cosine").desc, k)
  }

  /** ANN search: exact cosine within the `nprobe` cells nearest the query. */
  def annTopK(corpus: DataFrame, embCol: String, idCol: String,
      centroids: Seq[Seq[Double]], query: Seq[Double], k: Int,
      nprobe: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    withCell(corpus, embCol, centroids)
      .filter(col("cell").isin(nearestCells(centroids, query, nprobe): _*))
      .select(col(idCol),
        Similarity.cosineCodegen(col(embCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** The `nprobe` cells nearest a driver-side query vector by squared
    * L2 to the centroids, ties to the lower cell index: the probe list of
    * the single-query searches ([[annTopK]], [[IvfPq.search]]). */
  private[ext] def nearestCells(centroids: Seq[Seq[Double]],
      query: Seq[Double], nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) => (sqL2(c, query), i) }
      .sorted.take(nprobe).map(_._2)

  /** Squared L2 distance of two driver-side vectors. */
  private[ext] def sqL2(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** A k × dim centroid matrix as a nested array literal. */
  private[ext] def matrixLit(rows: Seq[Seq[Double]]): Column =
    array(rows.map(r => array(r.map(lit): _*)): _*)

  /** The tail of the batch searches ([[annJoin]], [[IvfPq.searchBatch]]):
    * each `q_id`'s k best `nbr_id` rows by `order`, ties to the lower
    * `nbr_id`. */
  private[ext] def topKPerQuery(pairs: DataFrame, order: Column,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(order, col("nbr_id"))
    pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
