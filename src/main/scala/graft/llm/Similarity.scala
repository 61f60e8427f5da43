package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity kernel (BASELINE.json north star: similarity search
  * over an `Array[Float]` column; no analogue in the reference, which has no
  * vector type).
  *
  * Numerical determinism: all math is double-precision with a **fixed
  * left-to-right summation order** (`aggregate` HOF folds the array in
  * order), so a SQL engine evaluating the equivalent explicit `t1 + t2 + …`
  * chain produces bit-identical IEEE-754 results — float→double casts are
  * exact, float×float products in double are exact (24-bit mantissas), and
  * each addition is exactly-rounded in a defined order.
  *
  * Scale: dot/norm/cosine are per-row scalar expressions over the array —
  * no shuffle, codegen'd HOFs inside the scan stage. Brute-force top-k is
  * a TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  * no global sort). The sign-LSH path buckets vectors so candidate
  * generation becomes an equi-join on bucket id — the standard way to make
  * ANN shuffle-bounded at 10⁹+ vectors (bucket-partitioned, skew-salted if
  * a bucket is hot).
  */
object Similarity {

  /** Read a persisted vector-index layout (e64's list dirs, f26's
    * streamed layout, e89's rebalance state) with the shared
    * delete-lifecycle tombstone mask applied
    * ([[graft.api.Database.tombstonesOf]] on `vec_id`, broadcast
    * anti-join bounded by the delete-epoch contract): a tombstoned
    * vector can never serve from ANY index artifact — not just the
    * IVFPQ path that owns the fold (e94). Plain scan (no extra plan
    * nodes) when no tombstones exist, which is every gate's case; the
    * probe's `list_id` partition pruning is unaffected either way
    * (the mask is a post-scan anti-join, the filter still reaches the
    * scan).
    */
  def readIndexMasked(s: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val df = s.read.parquet(path)
    graft.api.Database.tombstonesOf(s, path, "vec_id")
      .map(t => df.join(broadcast(t), Seq("vec_id"), "left_anti"))
      .getOrElse(df)
  }

  /** Dot product with fixed fold order; inputs must be array<double>.
    * Implemented as the codegen'd [[graft.functions.VecDot]] primitive loop
    * (the HOF formulation below is kept as the executable spec — both
    * produce bit-identical doubles; see SimilaritySpec).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecExpressions.vecDot(a, b)

  /** Reference formulation: `aggregate(zip_with(a,b,*), 0.0, +)` — same
    * fold order as [[dot]], ~40× slower (lambda interpretation + per-row
    * allocation); used only to cross-check the native kernel.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact float[]→double[] view of an embedding column. */
  def asDouble(c: Column): Column = c.cast("array<double>")

  /** Deterministic ±1 hyperplanes for sign-LSH (random-projection family).
    * Sign of plane j, dim d = low bit of splitmix64-mix(j*dims+d) — a
    * fixed pseudo-random sequence with full avalanche (no RNG dependency;
    * the oracle side inlines the resulting signs, so determinism is all
    * that is required).
    *
    * WHY the strong mixer (r8): the previous "bit 16 of Knuth-hash(k)"
    * sequence is nearly LINEAR over consecutive k — adjacent planes came
    * out up to cos 0.94 parallel (mean |cos| 0.48), so the effective
    * number of independent planes saturated at ~6 no matter how many were
    * requested. On the rehearsal corpus that capped bucket entropy and
    * made banded-LSH occupancy pile up (5×10⁸ candidate pairs at sf10
    * where uniform hashing gives 5×10⁶). Splitmix's finalizer is the
    * public-domain standard for exactly this (Steele et al., "Fast
    * splittable pseudorandom number generators", OOPSLA'14).
    */
  def signPlanes(nPlanes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dims) { (j, d) =>
      var z = (j.toLong * dims + d) + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= (z >>> 31)
      if ((z & 1L) == 0L) 1.0 else -1.0
    }

  /** LSH bucket id: bit j set iff dot(emb, plane_j) > 0. Capped at 31
    * planes — bit j rides Int arithmetic (the oracle's CASE chain is
    * int-typed too), and a silent `1 << 32` wraparound would alias
    * distinct sign patterns into shared buckets, re-capping bucket
    * entropy exactly like the degenerate-plane bug fixed in r8. A corpus
    * needing >2³¹ buckets (≈7·10¹⁰ vectors at occupancy 32) needs a
    * wider id type end-to-end, which this require makes a loud decision
    * instead of a silent regression.
    */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column = {
    require(planes.length <= 31,
      s"lshBucket: ${planes.length} planes exceed the 31-bit Int bucket id")
    planes.zipWithIndex.map { case (p, j) =>
      val plane = array(p.toSeq.map(lit): _*)
      when(dot(emb, plane) > 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Banded sign-LSH: split `planes` into `bands` disjoint groups and emit
    * an array of (band, bucket) structs per row (explode downstream). This
    * is the OR-amplification of the hash family — near neighbors collide in
    * SOME band with high probability even when no single bucket holds them —
    * and candidate generation stays an equi-join on (band, bucket):
    * shuffle-bounded at any scale, never a nested loop.
    */
  def bandedBuckets(emb: Column, planes: Array[Array[Double]], bands: Int): Column = {
    require(planes.length % bands == 0, "planes must split evenly into bands")
    val per = planes.length / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        lshBucket(emb, planes.slice(b * per, (b + 1) * per)).as("bucket"))
    }: _*)
  }

  /** Squared L2 distance to a constant centroid:
    * ‖x−c‖² = x·x − 2·x·c + ‖c‖² (‖c‖² folded at plan time).
    */
  private def l2sq(emb: Column, c: Array[Double]): Column = {
    val cc = array(c.toSeq.map(lit): _*)
    dot(emb, emb) - lit(2.0) * dot(emb, cc) + lit(c.map(v => v * v).sum)
  }

  /** The `nprobe` nearest centroid indices, ascending by (distance,
    * index) — an IVF query's probe set as an `array<int>` column
    * (scan-local k × dims multiply-adds per row; the serving-side
    * companion of [[ivfAssign]], shared by the e85 recall grader).
    */
  def ivfProbes(emb: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    org.apache.spark.sql.functions.transform(
      org.apache.spark.sql.functions.slice(
        org.apache.spark.sql.functions.array_sort(
          array(centroids.zipWithIndex.toIndexedSeq.map { case (c, j) =>
            struct(l2sq(emb, c).as("d"), lit(j).as("j"))
          }: _*)), 1, nprobe),
      s => s.getField("j"))

  /** Nearest-centroid assignment WITH its distance: the argmin
    * (distance, index) struct — `.getField("j")` is the list id,
    * `.getField("d")` the squared L2 to it (deterministic tie-break by
    * index; scan-local, k × dims multiply-adds per row).
    */
  def ivfAssignDist(emb: Column, centroids: Array[Array[Double]]): Column =
    array_min(array(centroids.zipWithIndex.toIndexedSeq.map { case (c, j) =>
      struct(l2sq(emb, c).as("d"), lit(j).as("j"))
    }: _*))

  /** IVF list assignment: index of the nearest centroid (argmin by
    * (distance, index) struct min — deterministic tie-break).
    */
  def ivfAssign(emb: Column, centroids: Array[Array[Double]]): Column =
    ivfAssignDist(emb, centroids).getField("j")

  /** Fixed-point quantization scale for the k-means mean update: 2^20.
    * Multiplying a double by a power of two is EXACT (exponent shift) and
    * floor is unambiguous, so `floor(x · 2^20)` is the same integer in
    * every engine; integer sums are exact and order-free. One deliberate
    * 2^-20 quantization replaces the unbounded nondeterminism of a
    * floating mean.
    */
  val MeanScale: Double = 1048576.0

  /** Deterministic Lloyd's k-means over the embedding column: init =
    * first `k` vectors by id, `iters` rounds of (scan-local argmin
    * assignment → groupBy-mean update). Every step is a DataFrame job —
    * at 10⁹ vectors each iteration is one scan + one k×dims aggregate.
    *
    * The mean update uses exact fixed-point accumulation
    * (`sum(floor(x·2^20))` as LONG, then ONE double division chain
    * `sum/2^20/n`): a floating `avg` would make the centroids depend on
    * partition/summation order, whereas the integer sum is bit-identical
    * at any parallelism AND across engines — which is what lets the whole
    * iterative IVF pipeline be oracle-checked (e18).
    */
  def kmeansCentroids(base: DataFrame, idCol: String,
      k: Int, iters: Int, memoKey: String = ""): Array[Array[Double]] =
    if (memoKey.nonEmpty) graft.Caches.memoVal(memoKey)(trainKmeans(base, idCol, k, iters))
    else trainKmeans(base, idCol, k, iters)

  private def trainKmeans(base: DataFrame, idCol: String,
      k: Int, iters: Int): Array[Array[Double]] = {
    import org.apache.spark.sql.functions.{col, sum, floor, lit, count}
    var centroids: Array[Array[Double]] = base.orderBy(col(idCol)).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    val dims = centroids.head.length
    (1 to iters).foreach { _ =>
      val assigned = base.withColumn("_list", ivfAssign(col("emb"), centroids))
      val dimCols = (0 until dims).map(d =>
        sum(floor(col("emb").getItem(d) * MeanScale).cast("long")).as(s"s$d"))
      val updated = assigned.groupBy("_list")
        .agg(count(lit(1)).as("n"), dimCols: _*)
        .collect().map { r =>
          val n = r.getLong(1).toDouble
          r.getInt(0) -> (0 until dims)
            .map(d => r.getLong(d + 2).toDouble / MeanScale / n).toArray
        }.toMap
      // empty lists keep their previous centroid
      centroids = centroids.zipWithIndex.map { case (c, j) => updated.getOrElse(j, c) }
    }
    centroids
  }

  /** IVF-style ANN: partition vectors into `nlist` inverted lists by
    * nearest centroid, probe the query's `nprobe` closest lists, rank by
    * cosine inside them.
    *
    * Centroids are k-means-trained ([[kmeansCentroids]], deterministic
    * init + Lloyd iterations); at production scale train on a sample,
    * broadcast, and reuse — assignment stays this same scan-local argmin
    * expression. Candidate generation is an equi-join on list id ⇒
    * shuffle-bounded like the LSH path, recall tunable via nprobe.
    *
    * With a `memoKey` the list-assigned corpus is built once per session
    * and input ([[encodedIndex]]). A later search is then two jobs over
    * the cached index: the query vector's lookup, and one top-k scan that
    * takes the vector as a literal array.
    */
  def ivfTopK(embeddings: DataFrame, idCol: String, queryId: Long,
      nlist: Int = 8, nprobe: Int = 2, k: Int = 5,
      trainIters: Int = 3, memoKey: String = ""): DataFrame = {
    import org.apache.spark.sql.functions.{col, typedLit}
    val base = trainingBase(embeddings, idCol, memoKey)
    val centroids = kmeansCentroids(base, idCol, nlist, trainIters, memoKey)
    val index = encodedIndex("ivf", embeddings, idCol, memoKey)(
      base.select(col(idCol), ivfAssign(col("emb"), centroids).as("list_id"), col("emb")))
    val q = queryVector(index, idCol, queryId)
    val probeLists = centroids.zipWithIndex
      .map { case (c, j) =>
        val d = c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum; (d, j)
      }.sortBy(identity).take(nprobe).map(_._2)
    index.filter(col("list_id").isin(probeLists.toIndexedSeq.map(_.asInstanceOf[Any]): _*))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), col("list_id"), cosine(col("emb"), typedLit(q.toSeq)).as("cos"))
      .orderBy(col("cos").desc, col(idCol)).limit(k)
  }

  /** The (id, emb double-array) frame a model is trained and encoded from.
    * Training reads it `iters + 1` times (init + each Lloyd iteration), so
    * it is persisted when training runs — no `memoKey`, or a key whose
    * model is not yet memoized — and tracked for the harness's per-query
    * [[graft.Caches.drain]], since a plan returned to the caller may still
    * read it. A memoized model reads the source directly: its encoding
    * is one scan, paid once per index (see [[encodedIndex]]).
    */
  private def trainingBase(embeddings: DataFrame, idCol: String,
      memoKey: String): DataFrame = {
    val base = embeddings.select(col(idCol), asDouble(col("embedding")).as("emb"))
    if (memoKey.nonEmpty && graft.Caches.peekVal[Any](memoKey).isDefined) base
    else graft.Caches.persistTracked(base)
  }

  /** The encoded corpus a search runs over. Without a `memoKey` it is the
    * per-call `encode` plan. With one, it is built once per session through
    * [[graft.Caches.memo]] and every later search under the same key and
    * input reads the cached copy. The memo adds the input's identity to
    * `memoKey` (which names the trained model): the analyzed plan's
    * semantic hash in the key, and the sorted input files as the version.
    * A differently filtered frame under the same `memoKey` therefore builds
    * its own index, and a file appended to the source rebuilds it, instead
    * of serving stale rows.
    */
  private def encodedIndex(kind: String, embeddings: DataFrame, idCol: String,
      memoKey: String)(encode: => DataFrame): DataFrame =
    if (memoKey.isEmpty) encode
    else graft.Caches.memo(
      Seq(s"$kind-index", memoKey, idCol,
        embeddings.queryExecution.analyzed.semanticHash()).mkString("|"),
      embeddings.inputFiles.sorted.mkString(","))(encode)

  /** The query's embedding, as doubles, from a frame holding (idCol, emb). */
  private def queryVector(df: DataFrame, idCol: String, queryId: Long): Array[Double] =
    df.filter(col(idCol) === queryId).select(col("emb")).collect()(0)
      .getSeq[Double](0).toArray

  /** Per-subspace PQ codebooks over a (id, emb double-array) frame — m
    * independent [[kmeansCentroids]] trainings on the dims/m-wide slices.
    */
  def pqCodebooks(base: DataFrame, idCol: String, m: Int = 4, ksub: Int = 4,
      iters: Int = 2, dims: Int = 64,
      memoKey: String = ""): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.functions.{col, slice}
    require(dims % m == 0, "dims must split evenly into m subspaces")
    def train(): Array[Array[Array[Double]]] = {
      val sub = dims / m
      (0 until m).map { j =>
        kmeansCentroids(
          base.select(col(idCol), slice(col("emb"), j * sub + 1, sub).as("emb")),
          idCol, ksub, iters)
      }.toArray
    }
    if (memoKey.nonEmpty) graft.Caches.memoVal(memoKey)(train()) else train()
  }

  /** The per-subspace code columns (`code0..code{m-1}`) of `emb` under
    * trained codebooks — scan-local argmin, streaming-safe (stateless).
    */
  def pqCodeCols(emb: Column, codebooks: Array[Array[Array[Double]]],
      dims: Int = 64): Seq[Column] = {
    import org.apache.spark.sql.functions.slice
    val sub = dims / codebooks.length
    codebooks.zipWithIndex.toIndexedSeq.map { case (cb, j) =>
      ivfAssign(slice(emb, j * sub + 1, sub), cb).as(s"code$j")
    }
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product quantization
    * for nearest neighbor search"): split the embedding into `m`
    * subspaces, train an INDEPENDENT deterministic k-means codebook per
    * subspace (the same fixed-point Lloyd recipe as [[kmeansCentroids]]),
    * encode every vector as m small codes, and answer the query via ADC
    * (asymmetric distance computation) — a per-query distance TABLE of
    * m × ksub doubles, computed once on the driver, whose lookups replace
    * per-row vector arithmetic: approx_dist(x) = Σ_j table_j[code_j(x)],
    * a fixed-order m-term double chain (bit-portable).
    *
    * Scale: THE standard way a 100 TB embedding corpus fits an ANN
    * serving tier — codebooks are m·ksub·(dims/m) doubles (broadcast
    * literals), the encoded corpus is m small ints per vector instead of
    * dims floats (16× compression at these parameters, 64-512× in
    * production), encoding is scan-local argmin, and the query path
    * scans codes with table lookups only. Returns top-k by (adc ASC, id)
    * with the per-subspace codes exposed — the whole train→encode→query
    * path sits in the hash gate.
    *
    * With a `memoKey` the coded corpus is built once per session and
    * input ([[encodedIndex]]). A later search is then two jobs: the query
    * vector's lookup in the source, and one ADC top-k scan over the cached
    * codes.
    */
  def pqTopK(embeddings: DataFrame, idCol: String, queryId: Long,
      m: Int = 4, ksub: Int = 4, iters: Int = 2, k: Int = 5,
      dims: Int = 64, memoKey: String = ""): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, typedLit}
    val sub = dims / m
    val base = trainingBase(embeddings, idCol, memoKey)
    val codebooks = pqCodebooks(base, idCol, m, ksub, iters, dims, memoKey)
    val index = encodedIndex("pq", embeddings, idCol, memoKey)(
      base.select(col(idCol) +: pqCodeCols(col("emb"), codebooks, dims): _*))
    // the codes do not hold the vector: look the query up in the source
    val q = queryVector(base, idCol, queryId)
    // ADC table: td(j)(c) = ‖q_j − centroid_jc‖², the same left-to-right
    // 0.0-seeded square chain the oracle spells per term
    val adcTables: Array[Array[Double]] = codebooks.zipWithIndex.map { case (cb, j) =>
      cb.map { c =>
        var s = 0.0
        var d = 0
        while (d < sub) { val t = c(d) - q(j * sub + d); s += t * t; d += 1 }
        s
      }
    }
    val adc = (0 until m).map(j =>
      element_at(typedLit(adcTables(j).toSeq), col(s"code$j") + 1)).reduce(_ + _)
    index.filter(col(idCol) =!= queryId)
      .select(col(idCol) +: (0 until m).map(j => col(s"code$j")) :+ adc.as("adc"): _*)
      .orderBy(col("adc").asc, col(idCol)).limit(k)
  }
}
