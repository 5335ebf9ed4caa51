package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor operators over an embedding column
 * (`array<float>`), pure Catalyst expressions throughout.
 *
 * Baseline: brute-force cosine top-k — a broadcast join of the (small) query
 * set against the corpus, so the corpus is scanned once with no shuffle of
 * the big side. Scale path: bucketed search (norm-range or LSH bucket id)
 * joining only same-bucket rows; see [[bucketedTopK]].
 *
 * All arithmetic is done in double after an explicit element cast, folding
 * left-to-right ([[functions.aggregate]]), which makes results reproducible
 * across engines for oracle verification.
 */
object Similarity {

  /** Elementwise dot product of two array<double> columns — the native
    * codegen'd expression (one fused loop, no per-row allocation), summation
    * order identical to the `aggregate(zip_with(...))` built-in chain it
    * replaces. */
  def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.array_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def asDouble(a: Column): Column = transform(a, _.cast("double"))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Brute-force cosine top-k: for every query vector, the k nearest corpus
   * vectors (excluding self), ranked by similarity desc with id tie-break.
   *
   * The query side is broadcast — the corpus side never shuffles until the
   * final (tiny) rank partitioning on query_id. Norms are precomputed on
   * both sides so each pair costs one dot product.
   */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")).withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv")).withColumn("cn", norm(col("cv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /**
   * Scale path: LSH-bucketed top-k. Bucket id = sign bits of `nPlanes`
   * pseudo-random hyperplanes whose coefficients derive deterministically
   * from md5 (portable). Query joins only its own bucket — at 100 TB this
   * turns an O(N·Q) scan into O(N·Q / 2^nPlanes) with recall traded for
   * speed; callers probe multiple buckets for higher recall.
   *
   * Plane coefficient for (plane p, dim d): portableHash("p:d") scaled to
   * [-1, 1] — deterministic, engine-independent, no stored model.
   */
  def planeCoeff(p: Column, d: Column): Column =
    (TextOps.portableHash(concat(p.cast("string"), lit(":"), d.cast("string")))
      .cast("double") / lit(1.152921504606846976e18) /* 2^60 */) * 2.0 - 1.0

  def lshBucket(vec: Column, nPlanes: Int): Column = {
    val bits = transform(sequence(lit(0), lit(nPlanes - 1)), p => {
      val s = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x * planeCoeff(p, d)),
        lit(0.0), (acc, x) => acc + x)
      when(s >= 0, pow(lit(2.0), p).cast("long")).otherwise(lit(0L))
    })
    aggregate(bits, lit(0L), (acc, x) => acc + x)
  }

  /**
   * Banded hyperplane buckets, the cosine analogue of MinHash LSH banding:
   * `nBands` independent buckets per vector, band k derived from planes
   * [k·rowsPerBand, (k+1)·rowsPerBand). Two vectors are candidates if they
   * collide in ANY band — collision probability 1-(1-p^r)^b for per-plane
   * agreement p, the standard recall/cost dial (more bands → higher recall,
   * more rows per vector; more rows-per-band → smaller buckets, lower
   * recall). Returns an array of per-band bucket ids to posexplode into
   * (band, bucket) join keys.
   */
  def lshBandBuckets(vec: Column, nBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(nBands - 1)), band => {
      val bits = transform(sequence(lit(0), lit(rowsPerBand - 1)), j => {
        val s = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, d) => x * planeCoeff(band * rowsPerBand + j, d)),
          lit(0.0), (acc, x) => acc + x)
        when(s >= 0, pow(lit(2.0), j).cast("long")).otherwise(lit(0L))
      })
      aggregate(bits, lit(0L), (acc, x) => acc + x)
    })

  /** Driver-side md5-derived coefficient in [-1, 1] for an arbitrary key —
    * the single source of the portable-hash → double derivation shared by
    * every plan-time constant family (LSH planes here, projection directions
    * in [[Embeddings]]). Must stay bit-identical to the per-row column
    * version ([[planeCoeff]]) for oracle verification. */
  def coeffConst(key: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
      .toDouble / 1.152921504606846976e18 * 2.0 - 1.0
  }

  /** Constant replica of [[planeCoeff]]: same md5 derivation, same
    * arithmetic order, evaluated ONCE at plan-build time. The per-row column
    * version computes nPlanes×dim md5 digests per row — for constant
    * (plane, dim) inputs that work belongs in the plan, not the data path. */
  def planeCoeffConst(p: Int, d: Int): Double = coeffConst(s"$p:$d")

  /**
   * [[lshBandBuckets]] with the plane coefficients folded to literal arrays
   * (requires the embedding dimension up front). Each band bit is one native
   * codegen'd [[dot]] against a constant array — identical left-to-right
   * summation order, so bucket ids are bit-identical to the dynamic version
   * (equivalence spec-checked) at a fraction of the per-row cost.
   */
  def lshBandBucketsFast(vec: Column, nBands: Int, rowsPerBand: Int, dim: Int): Column =
    array((0 until nBands).map { band =>
      (0 until rowsPerBand).map { j =>
        val p = band * rowsPerBand + j
        val coeffs = array((0 until dim).map(dd => lit(planeCoeffConst(p, dd))): _*)
        when(dot(vec, coeffs) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /**
   * IVF-flat ANN: coarse-quantize the corpus into `nCells` inverted lists,
   * assign every vector to its nearest centroid in one broadcast pass, then
   * answer each query by scoring only its `nProbe` nearest cells.
   * Cost: O(N·nCells) assignment + O(Q·N·nProbe/nCells) search instead of
   * O(Q·N) — the classic recall/speed dial for corpus-scale ANN.
   *
   * Centroids are TRAINED by default: `trainIters` Lloyd iterations of
   * deterministic spherical k-means ([[kmeansCentroids]]) — measured
   * recall@5 0.94 vs 0.90 for untrained seeds on the test fixtures, so the
   * better cells are what callers get unless they opt out. Opt-outs:
   * pass pre-trained `trained` centroids (cell_id, cellv) to skip training
   * (the production shape — train once offline, reuse per query batch), or
   * `trainIters = 0` for the training-free lowest-id seed cells.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      trained: Option[DataFrame] = None, trainIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // trainIters = 0 also rides kmeansCentroids: it returns the same seed
    // vectors with cell_id = seed RANK (int) instead of the raw vector id —
    // an order-isomorphic relabeling of an INTERNAL key (cell ids never
    // reach the output; both join sides relabel identically, tie-break
    // order is preserved because rank is monotone in the id), which keeps
    // the collected static-assign path monomorphic on int cell ids.
    val centroids = trained.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, nCells, trainIters))
    def nearestCells(df: DataFrame, side: String, n: Int) = {
      // hoist both norms out of the cross product (N + k reductions, not N·k)
      val v = df.select(col(idCol).as(s"${side}_id"), asDouble(col(vecCol)).as(s"${side}v"))
        .withColumn(s"${side}_norm", norm(col(s"${side}v")))
      val w = Window.partitionBy(col(s"${side}_id"))
        .orderBy(col("cell_cos").desc, col("cell_id"))
      v.join(broadcast(centroids.withColumn("cell_norm", norm(col("cellv")))), lit(true))
        .withColumn("cell_cos",
          dot(col(s"${side}v"), col("cellv")) / (col(s"${side}_norm") * col("cell_norm")))
        .withColumn("cell_rank", row_number().over(w))
        .filter(col("cell_rank") <= n)
        .drop("cellv", "cell_cos", "cell_rank", "cell_norm")
    }
    // Corpus side (argmax over cells): the zero-shuffle static fold over
    // the collected centroid table instead of a broadcast cross product +
    // N·nCells window exchange carrying the corpus vector — identical
    // cosine/tie-break (parity spec-pinned). The query side keeps the
    // rank-n window: it needs the top nProbe cells, and the query set is
    // small by contract.
    val centArr = centroids.select(col("cell_id"), col("cellv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val assigned =
      if (centArr.isEmpty)
        corpus.select(col(idCol).as("corpus_id"),
            asDouble(col(vecCol)).as("corpusv"))
          .withColumn("cn", norm(col("corpusv")))
          .withColumn("cell_id", lit(-1)).where(lit(false))
      else assignCellsStatic(corpus, centArr, idCol, vecCol)
        .select(col("vec_id").as("corpus_id"), col("ve").as("corpusv"),
          col("vnorm").as("cn"), col("cell_id"))
    val probes = nearestCells(queries, "query", nProbe)
      .withColumnRenamed("query_norm", "qn")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probes.join(assigned, Seq("cell_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id").as("neighbor_id"),
        (dot(col("queryv"), col("corpusv")) / (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /**
   * Assign every vector to its nearest centroid by cosine (deterministic
   * tie-break on cell_id). `centroids` must have (cell_id, cellv) and is
   * broadcast — one pass over the corpus, no corpus shuffle before the
   * per-vector rank (which partitions by vec_id). Besides (vec_id, cell_id,
   * ve) the result carries `vnorm` (the vector's L2 norm, so downstream
   * pairwise cosines don't recompute it) and `cell_cos` (cosine to the
   * assigned centroid — the "how prototypical" score SemDeDup's keep rule
   * ranks on).
   */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    // The centroid side is bounded (k trained cells) by every caller's
    // contract — collect it and assign through the ZERO-shuffle
    // [[assignCellsStatic]] fold instead of paying a broadcast cross
    // product + an N·k-row window exchange that shipped every corpus
    // vector k times. Bit-identical values and tie-break (parity
    // spec-pinned); column order re-selected to this method's original
    // contract.
    val centArr = centroids.select(col("cell_id"), col("cellv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    if (centArr.isEmpty) {
      // empty centroid set: the old cross join produced zero rows
      val v = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("ve"))
        .withColumn("vnorm", norm(col("ve")))
      return v.where(lit(false))
        .select(col("vec_id"), lit(-1).as("cell_id"), col("ve"),
          col("vnorm"), lit(0.0).as("cell_cos"))
    }
    assignCellsStatic(corpus, centArr, idCol, vecCol)
      .select(col("vec_id"), col("cell_id"), col("ve"), col("vnorm"),
        col("cell_cos"))
  }

  /** The RETAINED broadcast-join + rank-window form of [[assignCells]] —
    * the reference implementation the static fold's parity spec compares
    * against (the gridMeansHof discipline: the slow shape stays as the
    * executable definition of the fast one's semantics). Not used on any
    * query path. */
  private[graft] def assignCellsJoined(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("ve"))
      .withColumn("vnorm", norm(col("ve")))
    val c = centroids.withColumn("cnorm", norm(col("cellv")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cell_cos").desc, col("cell_id"))
    v.join(broadcast(c), lit(true))
      .withColumn("cell_cos",
        dot(col("ve"), col("cellv")) / (col("vnorm") * col("cnorm")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cell_id"), col("ve"), col("vnorm"), col("cell_cos"))
  }

  /**
   * Streaming-safe cell assignment: the trained centroids are collected to a
   * LITERAL array (bounded — k·dim doubles, the same "static artifact"
   * discipline as the broadcast model joins) and the nearest-by-cosine cell
   * is picked by a left-to-right `aggregate` fold over that literal — a pure
   * projection with no join, no window, no shuffle, so it runs identically
   * on a batch frame and on an append-mode STREAM (where [[assignCells]]'s
   * per-vector rank window is unsupported). Tie-break matches
   * [[assignCells]]: highest cosine wins, lowest cell_id on ties (strict `>`
   * over cells folded in cell_id order). Output columns: (vec_id, cell_id,
   * cell_cos, ve, vnorm).
   */
  def assignCellsStatic(corpus: DataFrame, centroids: Array[(Int, Seq[Double])],
      idCol: String, vecCol: String): DataFrame = {
    val cents = centroids.sortBy(_._1)
    val centArr = array(cents.map { case (id, cv) =>
      struct(lit(id).as("cell_id"),
        array(cv.map(lit(_)): _*).as("cellv"),
        lit(math.sqrt(cv.map(x => x * x).sum)).as("cnorm"))
    }: _*)
    val v = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("ve"))
      .withColumn("vnorm", norm(col("ve")))
    v.withColumn("best",
        aggregate(centArr,
          struct(lit(-1).as("cell_id"), lit(-2.0).as("cell_cos")),
          (acc, c) => {
            val cos = dot(col("ve"), c.getField("cellv")) /
              (col("vnorm") * c.getField("cnorm"))
            when(cos > acc.getField("cell_cos"),
              struct(c.getField("cell_id").as("cell_id"), cos.as("cell_cos")))
              .otherwise(acc)
          }))
      .select(col("vec_id"), col("best.cell_id").as("cell_id"),
        col("best.cell_cos").as("cell_cos"), col("ve"), col("vnorm"))
  }

  /**
   * Deterministic spherical k-means (Lloyd) for IVF cell training. Init: the
   * k lowest-id vectors (cell_id = seed rank). Each of the `iters` fixed
   * iterations assigns by cosine and recomputes centroids as per-dimension
   * means. The mean's sum is routed through decimal so it is order-independent
   * — bit-exact under any partitioning, which makes the trained cells (and
   * the assignment built on them) oracle-verifiable cross-engine.
   *
   * Scale shape: assignment is one broadcast pass (O(N·k) dots, no corpus
   * shuffle); the update shuffles N·dim (cell, dim, x) rows to k·dim groups
   * with map-side partial aggregation. The driver never holds data — only
   * the loop counter; lineage is truncated per iteration.
   */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    val v = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("ve"))
    // Seeds: the k lowest-id vectors, cell_id = seed rank — one bounded
    // TakeOrdered collect (k·dim doubles), the static-artifact discipline.
    var cent: Array[(Int, Seq[Double])] = v.orderBy(col("vec_id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }
    // Each iteration: ZERO-shuffle assignment (the [[assignCellsStatic]]
    // fold over the collected centroids — no N·k window exchange, the
    // corpus vector never crosses the wire) + ONE map-side-combined
    // aggregation producing the per-dimension decimal-exact means directly
    // as columns (no posexplode row blowup, no second
    // collect_list/array_sort exchange), collected to k·dim doubles.
    // Values are bit-identical to the previous join+window+double-groupBy
    // form: same cosine and tie-break in the assignment (parity
    // spec-pinned), same sum(decimal(30,15))→double / count(rows having
    // the dim) per-dimension mean. Fixed-dim corpus contract (the
    // quantize/splitSubs discipline); a dim missing from every member of a
    // cell yields a null element where the old shape collapsed the hole —
    // unreachable for the catalog's fixed-dim tables.
    for (_ <- 0 until iters if cent.nonEmpty) {
      val dim = cent.map(_._2.length).max
      val assigned = assignCellsStatic(v, cent, "vec_id", "ve")
      val meanCols = (0 until dim).map { i =>
        (sum(get(col("ve"), lit(i)).cast("decimal(30,15)")).cast("double") /
          count(when(size(col("ve")) > i, lit(1)))).as(s"c$i")
      }
      cent = assigned.groupBy(col("cell_id"))
        .agg(meanCols.head, meanCols.tail: _*)
        .select(col("cell_id"),
          array((0 until dim).map(i => col(s"c$i")): _*).as("cellv"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1)
    }
    centroidsToDF(spark, cent)
  }

  /** The small trained-centroid frame from its collected form: a LOCAL
    * relation (k rows built on the driver — no job, no scan, broadcastable
    * for free) with the (cell_id, cellv) schema the Lloyd loop always
    * produced. */
  private def centroidsToDF(spark: org.apache.spark.sql.SparkSession,
      cent: Array[(Int, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("cell_id", IntegerType, nullable = false),
      StructField("cellv", ArrayType(DoubleType, containsNull = true))))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      cent.sortBy(_._1).toSeq
        .map(c => org.apache.spark.sql.Row(c._1, c._2)).asJava
    spark.createDataFrame(rows, schema)
  }

  // ------------------------- Product quantization -------------------------
  //
  // All PQ arithmetic runs in an INTEGER-QUANTIZED space: each dimension is
  // floor(x · 2^20) as a long (exact: the float32 input widens to double
  // exactly, multiplying by a power of two only shifts the exponent, floor
  // is exact). Centroid means are truncated integer divisions and distances
  // are integer sums of squares — every intermediate is an exact long, so
  // results are bit-identical under ANY aggregation order and cross-engine
  // with no decimal or double round-trip anywhere. This is the house
  // integer-exact discipline (lmScore / bm25 / dsirWeights), adopted here
  // after measuring a 1-ulp cross-engine divergence in decimal-routed
  // double centroids (Spark's decimal→double conversion vs DuckDB's is not
  // identically rounded; harmless under argmin, fatal under exact value
  // compare). Quantization error is 2^-20 per dimension — three orders of
  // magnitude below the codebook's own approximation error, so ANN quality
  // is untouched. Overflow headroom: |x| ≤ 1 → per-dim diff ≤ 2^21, square
  // ≤ 2^42, summed over 64 dims ≤ 2^48 ≪ 2^63.

  /** The integer-quantized view of a float vector: floor(x · 2^20) per
    * dimension, as array<long>. */
  def quantizeVec(vecCol: Column): Column =
    transform(vecCol, x => floor(x.cast("double") * lit(1048576.0)).cast("long"))

  /** Integer squared L2: Σ (aᵢ−bᵢ)² over two array<long> columns — exact,
    * order-free. */
  def l2sqLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** The m contiguous equal slices of a long-array column, as an array of
    * subvectors (index = sub_id). Raises at runtime on a vector whose
    * length is not divisible by m — a silent truncation here would encode
    * and score a clipped vector with no error (and a ragged corpus would
    * get differently-sized subspaces per row). */
  def splitSubs(vq: Column, m: Int): Column = {
    val subDim = size(vq) / m
    when(size(vq) % m =!= 0,
      raise_error(concat(lit(s"vector length not divisible by m=$m subspaces: "),
        size(vq).cast("string"))))
      .otherwise(transform(sequence(lit(0), lit(m - 1)),
        s => slice(vq, s * subDim + 1, subDim)))
  }

  /** (vec_id, sub_id, subv): the m contiguous equal slices of each
    * QUANTIZED vector — PQ's subspace view. Pure projection + explode, no
    * shuffle. See [[subVectorsQ]] for the pre-quantized variant with
    * carry-through columns. */
  def subVectors(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame =
    subVectorsQ(
      corpus.select(col(idCol).as("vec_id"), quantizeVec(col(vecCol)).as("vq")),
      m)

  /** [[subVectors]] over an ALREADY-quantized frame with columns (vec_id,
    * vq: array<long>, carry...). */
  def subVectorsQ(v: DataFrame, m: Int, carry: Seq[String] = Nil): DataFrame =
    v.select(col("vec_id") +: carry.map(col) :+
      posexplode(splitSubs(col("vq"), m)).as(Seq("sub_id", "subv")): _*)

  /** Nearest PQ centroid per (vector, subspace) by integer squared L2,
    * deterministic tie-break on cell_id. `cents` must have (sub_id,
    * cell_id, cellv: array<long>) — at most m·ksub rows, always broadcast,
    * with cell_id < 256 (production PQ's codebook size; the seeds of
    * [[pqTrainOnSubs]] guarantee it for ksub ≤ 256).
    *
    * The argmin is a PRIMITIVE min over (d2 · 256 + cell_id) packed into
    * one long — lexicographic (d2, cell_id) order preserved exactly, no
    * overflow (d2 ≤ subDim · 2^42 ≤ 2^48 for |x| ≤ 1 at 64 dims; × 256 =
    * 2^56 ≪ 2^63). A long min plans as HashAggregate with map-side partial
    * combine, where the struct-min formulation falls back to SortAggregate
    * (struct buffers aren't hash-aggregable) and pays two sorts around the
    * exchange. The exchange carries one row per (vec, sub) instead of
    * ksub — the shape that matters when N is 10^10. */
  def pqAssign(sv: DataFrame, cents: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    sv.join(broadcast(cents), Seq("sub_id"))
      .withColumn("packed",
        l2sqLong(col("subv"), col("cellv")) * lit(256L) + col("cell_id"))
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(min(col("packed")).as("packed"),
        first(col("subv")).as("subv") +:
          carry.map(c => first(col(c)).as(c)): _*)
      .select(col("vec_id") +: col("sub_id") +:
        (col("packed") % 256).cast("int").as("cell_id") +:
        expr("packed div 256").as("d2") +:
        col("subv") +: carry.map(col): _*)

  /** [[pqAssign]]'s argmin as a STATIC fold over a collected codebook — a
    * pure projection (no join, no argmin exchange: the subvector never
    * crosses the wire), with the identical (d2, cell_id) lexicographic
    * tie-break as the packed min ([[pqEncodeStatic]]'s spec-pinned fold,
    * lifted to an sv frame where sub_id is a column). The per-sub centroid
    * arrays ride one literal-of-literals indexed by sub_id (`get`, so a
    * sub_id outside the codebook folds to null and is dropped — the rows a
    * join would not have matched). Output contract matches [[pqAssign]]:
    * (vec_id, sub_id, cell_id, d2, subv, carry...). */
  private[graft] def pqAssignStatic(sv: DataFrame,
      cents: Array[(Int, Int, Seq[Long])], carry: Seq[String] = Nil): DataFrame = {
    if (cents.isEmpty)
      // empty codebook: the old broadcast join matched nothing
      return sv.where(lit(false))
        .select(col("vec_id") +: col("sub_id") +: lit(-1).as("cell_id") +:
          lit(0L).as("d2") +: col("subv") +: carry.map(col): _*)
    val bySub = cents.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val subs = bySub.keys.toSeq.sorted
    require(subs == (0 until subs.length),
      s"pqAssignStatic needs contiguous sub_ids 0 until n, got $subs")
    val perSub = subs.map { s =>
      array(bySub(s).map { case (cid, cv) =>
        struct(lit(cid).as("cell_id"), array(cv.map(lit(_)): _*).as("cellv"))
      }: _*)
    }
    val centsCol = get(array(perSub: _*), col("sub_id"))
    val best = aggregate(centsCol,
      struct(lit(Long.MaxValue).as("d2"), lit(-1).as("cell_id")),
      (acc, c) => {
        val d2 = l2sqLong(col("subv"), c.getField("cellv"))
        when(d2 < acc.getField("d2"),
          struct(d2.as("d2"), c.getField("cell_id").as("cell_id")))
          .otherwise(acc)
      })
    sv.withColumn("best", best)
      .filter(col("best").isNotNull)
      .select(col("vec_id") +: col("sub_id") +:
        col("best.cell_id").as("cell_id") +: col("best.d2").as("d2") +:
        col("subv") +: carry.map(col): _*)
  }

  /**
   * Product-quantization codebook training (Jégou et al. 2011, "Product
   * quantization for nearest neighbor search"): an independent k-means per
   * subspace, run JOINTLY as one Lloyd loop keyed by (sub_id, cell_id) —
   * the m codebooks train in the same two dataframe passes per iteration
   * instead of m separate jobs. Deterministic by the [[kmeansCentroids]]
   * conventions: init is each subspace's ksub lowest-id subvectors
   * (cell_id = seed rank), assignment ties break on cell_id, and centroid
   * means are TRUNCATED integer divisions in the quantized space (Spark
   * `div` and DuckDB `//` both truncate toward zero) — the codebook is an
   * exact integer artifact, bit-identical under any partitioning and
   * cross-engine by construction.
   *
   * Scale shape: assignment is a broadcast join (m·ksub centroid rows) +
   * map-side-combined argmin; the update shuffles N·dim (sub,cell,dim,x)
   * rows into m·ksub·subDim groups with partial aggregation. The driver
   * holds only the loop counter; lineage truncates per iteration.
   */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): DataFrame =
    pqTrainOnSubs(subVectors(corpus, idCol, vecCol, m), ksub, iters)

  /** [[pqTrain]]'s Lloyd loop over a prepared (vec_id, sub_id, subv)
    * frame — also the training entry for RESIDUAL codebooks ([[ivfPqTopK]])
    * where the subvectors are already quantized differences, not raw
    * slices. */
  def pqTrainOnSubs(sv: DataFrame, ksub: Int, iters: Int): DataFrame = {
    // [[pqAssign]]'s (d2·256 + cell) packing orders correctly only while
    // cell ids fit under 256 (production PQ's codebook size). Out-of-range
    // ids would bleed into the distance bits and silently corrupt the
    // argmin — fail loudly at the API edge instead. A coarse quantizer
    // needing more cells is ivfTopK's kmeans path, not this one.
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
    val spark = sv.sparkSession
    import org.apache.spark.sql.expressions.Window
    // Seeds: each subspace's ksub lowest-id subvectors, collected once
    // (m·ksub·subDim longs — bounded regardless of corpus size).
    val seedW = Window.partitionBy(col("sub_id")).orderBy(col("vec_id"))
    var cent: Array[(Int, Int, Seq[Long])] =
      sv.withColumn("rk", row_number().over(seedW))
        .filter(col("rk") <= ksub)
        .select(col("sub_id"), (col("rk") - 1).as("cell_id"), col("subv"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
    // Each iteration: ZERO-shuffle assignment (the [[pqAssignStatic]] fold
    // — no broadcast join, no argmin exchange) + ONE map-side-combined
    // aggregation computing the per-dimension truncated-mean codewords
    // directly as an array (no posexplode blowup, no second
    // collect_list/array_sort exchange), collected to m·ksub rows. Exact
    // integer arithmetic throughout — identical values under any shape:
    // same argmin tie-break (pqEncodeStatic's spec-pinned fold), same
    // sum(x) div count(rows having the dim) codeword means.
    for (_ <- 0 until iters if cent.nonEmpty) {
      val subDim = cent.map(_._3.length).max
      val assigned = pqAssignStatic(sv, cent)
      val aggCols = (0 until subDim).flatMap { i =>
        Seq(sum(get(col("subv"), lit(i))).as(s"s$i"),
          count(when(size(col("subv")) > i, lit(1))).as(s"n$i"))
      }
      cent = assigned.groupBy(col("sub_id"), col("cell_id"))
        .agg(aggCols.head, aggCols.tail: _*)
        .select(col("sub_id"), col("cell_id"),
          array((0 until subDim).map(i => expr(s"s$i div n$i")): _*).as("cellv"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
        .sortBy(c => (c._1, c._2))
    }
    pqCentsToDF(spark, cent)
  }

  /** The small trained-codebook frame from its collected form: a LOCAL
    * relation (m·ksub rows built on the driver) with the (sub_id, cell_id,
    * cellv) schema [[pqTrainOnSubs]] always produced. */
  private def pqCentsToDF(spark: org.apache.spark.sql.SparkSession,
      cent: Array[(Int, Int, Seq[Long])]): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("sub_id", IntegerType, nullable = false),
      StructField("cell_id", IntegerType, nullable = false),
      StructField("cellv", ArrayType(LongType, containsNull = true))))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      cent.sortBy(c => (c._1, c._2)).toSeq
        .map(c => org.apache.spark.sql.Row(c._1, c._2, c._3)).asJava
    spark.createDataFrame(rows, schema)
  }

  /** PQ-encode the corpus against a trained codebook: one `code` (= nearest
    * cell per subspace) per (vec_id, sub_id). The compressed representation
    * ANN serves from — m small ints per vector instead of dim floats (64
    * floats → 4 codes here; 32× at production m=8/ksub=256). */
  def pqEncode(corpus: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, m: Int): DataFrame = {
    // One-shot encode against a BOUNDED trained codebook (m·ksub rows by
    // contract): collect it and ride the zero-shuffle [[pqAssignStatic]]
    // fold — no broadcast join, no (vec, sub) argmin exchange. Bit-identical
    // codes (the pqEncodeStatic parity spec pins the fold against the
    // packed-min join form).
    pqAssignStatic(subVectors(corpus, idCol, vecCol, m), collectCodebook(cents))
      .select(col("vec_id"), col("sub_id"), col("cell_id").as("code"))
  }

  /**
   * Asymmetric-distance (ADC) top-k over PQ codes: the query stays exact
   * (quantized, not coded), each corpus vector is its m codes, and the
   * approximate squared L2 is the sum over subspaces of d2(query_sub,
   * codeword). The classic trick is a per-query lookup table of m·ksub
   * precomputed distances; here that table IS the broadcast side — queries
   * × centroids joined small-side, then one equi-join on (sub_id, code)
   * attaches partial distances to the code frame with NO corpus shuffle,
   * and the per-(query, vec) sum rides one map-side-combined aggregation —
   * an exact integer sum, order-free. `adc_d2` is in squared quantized
   * units (÷ 2^40 for the float-space value).
   */
  def pqAdcTopK(queries: DataFrame, codes: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, m: Int, k: Int): DataFrame = {
    val qsub = subVectors(queries, idCol, vecCol, m)
      .select(col("vec_id").as("query_id"), col("sub_id"), col("subv"))
    val lut = qsub.join(cents, Seq("sub_id"))
      .select(col("query_id"), col("sub_id"), col("cell_id").as("code"),
        l2sqLong(col("subv"), col("cellv")).as("pd2"))
    val scored = codes.join(broadcast(lut), Seq("sub_id", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("adc_d2"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("adc_d2"))
  }

  /**
   * Streaming-safe PQ encoding: the trained codebook is collected to
   * LITERAL arrays (bounded — m·ksub·subDim longs, the same static-artifact
   * discipline as [[assignCellsStatic]]) and each subspace's nearest cell
   * is picked by a left-to-right `aggregate` fold — a pure projection +
   * explode with no join, no window, no shuffle, so it runs identically on
   * a batch frame and an append-mode STREAM (where [[pqAssign]]'s
   * aggregation is unsupported without a watermark). Tie-break matches
   * [[pqAssign]]: lowest d2 wins, lowest cell_id on ties (strict `<` over
   * cells folded in cell_id order). Bit-identical to [[pqEncode]] — integer
   * space end-to-end.
   */
  def pqEncodeStatic(corpus: DataFrame, cents: Array[(Int, Int, Seq[Long])],
      idCol: String, vecCol: String, m: Int): DataFrame = {
    val bySub = cents.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    // An EMPTY codebook is the legal result of training on an empty batch
    // (pqTrain of zero rows); encoding zero rows against it is fine — but a
    // non-empty corpus with no codewords is a misuse, so the degenerate plan
    // keeps the schema and raises only if a row actually arrives.
    if (cents.isEmpty) {
      return corpus.select(col(idCol).as("vec_id"),
        raise_error(lit("pqEncodeStatic: empty codebook with non-empty corpus"))
          .cast("int").as("sub_id"),
        lit(-1).as("code"))
    }
    // construction-time contract: the codebook must cover every subspace —
    // a missing sub_id would otherwise surface as an opaque
    // NoSuchElementException from bySub(s) below
    (0 until m).foreach { s =>
      require(bySub.contains(s),
        s"codebook missing sub_id=$s: pqEncodeStatic needs sub_ids 0 until $m")
    }
    // same ragged-vector contract as pqEncode's splitSubs: raise, never
    // silently truncate (one check per row; the slices below then divide
    // exactly)
    val vq0 = quantizeVec(col(vecCol))
    val v = corpus.select(col(idCol).as("vec_id"),
      when(size(vq0) % m =!= 0,
        raise_error(concat(
          lit(s"vector length not divisible by m=$m subspaces: "),
          size(vq0).cast("string"))))
        .otherwise(vq0).as("vq"))
    val subDim = size(col("vq")) / m
    val subCols = (0 until m).map { s =>
      val sv = slice(col("vq"), lit(s) * subDim + 1, subDim)
      val centArr = array(bySub(s).map { case (cid, cv) =>
        struct(lit(cid).as("cell_id"), array(cv.map(lit(_)): _*).as("cellv"))
      }: _*)
      val best = aggregate(centArr,
        struct(lit(Long.MaxValue).as("d2"), lit(-1).as("cell_id")),
        (acc, c) => {
          val d2 = l2sqLong(sv, c.getField("cellv"))
          when(d2 < acc.getField("d2"),
            struct(d2.as("d2"), c.getField("cell_id").as("cell_id")))
            .otherwise(acc)
        })
      struct(lit(s).as("sub_id"), best.getField("cell_id").as("code"))
    }
    v.select(col("vec_id"), explode(array(subCols: _*)).as("sc"))
      .select(col("vec_id"), col("sc.sub_id").as("sub_id"),
        col("sc.code").as("code"))
  }

  /** Collect a trained [[pqTrain]] codebook into the static form
    * [[pqEncodeStatic]] consumes — a construction-time driver action over
    * m·ksub rows (bounded regardless of corpus size). */
  def collectCodebook(cents: DataFrame): Array[(Int, Int, Seq[Long])] =
    cents.select(col("sub_id"), col("cell_id"), col("cellv"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toSeq))

  /** Collect [[ivfPqIndexBuild]]'s coarse cells into the static form
    * [[ivfPqSearchStatic]] consumes — at most 256 rows by construction. */
  def collectCoarse(coarse: DataFrame): Array[(Int, Seq[Long])] =
    coarse.select(col("cell0"), col("coarsev"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toSeq))

  // --------------------------------------------------------------------------
  // Persisted serving artifacts — train-once/serve-many: codebooks and
  // coarse cells written as bounded parquet artifacts (m·ksub and ≤256 rows
  // respectively) that a later session reloads into the SAME static literal
  // forms the serving projections consume. The quantized-vector discipline
  // makes the round-trip bit-exact (longs end to end). Mirrors the BPE
  // vocabulary artifact (TextOps.writeBpeVocab) — the tokenizer, the PQ
  // coder, and the coarse index are the three artifacts a serving tier
  // loads at startup.
  // --------------------------------------------------------------------------

  /** Persist a trained [[pqTrain]] codebook as a parquet artifact. */
  def writeCodebook(cents: DataFrame, path: String): Unit =
    cents.select(col("sub_id").cast("int").as("sub_id"),
        col("cell_id").cast("int").as("cell_id"), col("cellv"))
      .repartition(1).sortWithinPartitions("sub_id", "cell_id")
      .write.mode("overwrite").parquet(path)

  /** Load a [[writeCodebook]] artifact into [[pqEncodeStatic]]'s form. */
  def readCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Int, Seq[Long])] =
    collectCodebook(spark.read.parquet(path))

  /** Persist [[ivfPqIndexBuild]]'s coarse cells as a parquet artifact. */
  def writeCoarse(coarse: DataFrame, path: String): Unit =
    coarse.select(col("cell0").cast("int").as("cell0"), col("coarsev"))
      .repartition(1).sortWithinPartitions("cell0")
      .write.mode("overwrite").parquet(path)

  /** Load a [[writeCoarse]] artifact into [[ivfPqSearchStatic]]'s form. */
  def readCoarse(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Seq[Long])] =
    collectCoarse(spark.read.parquet(path))

  /** Pivot [[ivfPqIndexBuild]]'s long-format codes to ONE row per vector —
    * (vec_id, cell0, codes: array indexed by sub_id) — the at-rest layout
    * of a serving index (m bytes/vector next to its inverted-list cell).
    * Batch-side construction (one aggregation); the packed frame is the
    * static side of the stream-static search join. */
  def packCodes(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"), col("cell0"))
      .agg(transform(
        sort_array(collect_list(struct(col("sub_id"), col("code")))),
        s => s.getField("code")).as("codes"))

  /**
   * Streaming-safe IVF-PQ serving — the probed-ADC search of [[ivfPqTopK]]
   * re-expressed over STATIC artifacts ([[collectCoarse]] +
   * [[collectCodebook]] literals, [[packCodes]] frame), completing the
   * static-artifact ladder that [[pqEncodeStatic]] starts. Per arriving
   * query vector:
   *
   *  1. probe — distances to all coarse cells fold over a ≤256-entry
   *     literal array; `array_sort`'s natural struct order (cd2, cell0)
   *     reproduces the batch probe window's tie-break, and `slice` keeps
   *     the nProbe nearest. Pure projection, no window (windows are
   *     unsupported on append streams);
   *  2. residualize per probe (explode nProbe rows), then equi-join the
   *     packed code frame on cell0 — a stream-static inner join, the
   *     supported streaming shape (static side broadcastable);
   *  3. score — adc_d2 = Σ_s d2(residual_sub_s, codeword(s, codes[s]))
   *     evaluated per joined row from the codebook literals. No LUT
   *     materialization, no aggregation: the sum over m subspaces is one
   *     projection expression, exact integer arithmetic.
   *
   * Returns the SCORED CANDIDATE set (query_id, cell0, vec_id, adc_d2) in
   * append mode — identical values to [[ivfPqTopK]]'s pre-rank frame on
   * the same artifacts (parity-spec'd). The final top-k rank is a per-query
   * window, which streams can't do without closing a window — rank
   * downstream (`foreachBatch`, or the batch [[ivfPqTopK]] path); a serving
   * deployment typically heap-selects in the sink anyway.
   */
  def ivfPqSearchStatic(queries: DataFrame, packedCodes: DataFrame,
      coarse: Array[(Int, Seq[Long])], cents: Array[(Int, Int, Seq[Long])],
      idCol: String, vecCol: String, m: Int, nProbe: Int): DataFrame = {
    require(coarse.nonEmpty, "need at least one coarse cell")
    require(nProbe >= 1 && nProbe <= coarse.length,
      s"nProbe must be in [1, ${coarse.length}]")
    val dim = coarse.head._2.length
    require(coarse.forall(_._2.length == dim), "ragged coarse centroids")
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val subDim = dim / m
    // dense (sub, code) → codeword lookup: contiguity required so codes
    // index by position (pqTrainOnSubs seeds cell ids 0 until ksub)
    val bySub = cents.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    (0 until m).foreach { s =>
      require(bySub.contains(s),
        s"codebook missing sub_id=$s: needs sub_ids 0 until $m")
      val ids = bySub(s).map(_._1).toSeq
      require(ids == (0 until ids.length),
        s"sub_id=$s codes not contiguous from 0: $ids")
      require(bySub(s).forall(_._2.length == subDim),
        s"sub_id=$s codewords must have subDim=$subDim")
    }
    val centArrs = (0 until m).map { s =>
      array(bySub(s).map { case (_, cv) =>
        array(cv.map(lit(_)): _*)
      }: _*)
    }
    val coarseArr = array(coarse.sortBy(_._1).map { case (cid, cv) =>
      struct(lit(cid).as("cell0"), array(cv.map(lit(_)): _*).as("cv"))
    }: _*)
    val qv0 = quantizeVec(col(vecCol))
    val q = queries.select(col(idCol).as("query_id"),
      when(size(qv0) =!= dim,
        raise_error(concat(lit(s"query dim must be $dim: "),
          size(qv0).cast("string"))))
        .otherwise(qv0).as("qv"))
    val scoredCells = transform(coarseArr, c =>
      struct(l2sqLong(col("qv"), c.getField("cv")).as("cd2"),
        c.getField("cell0").as("cell0"), c.getField("cv").as("cv")))
    val probes = q
      .select(col("query_id"), col("qv"),
        explode(slice(array_sort(scoredCells), 1, nProbe)).as("p"))
      .select(col("query_id"), col("p.cell0").as("cell0"),
        zip_with(col("qv"), col("p.cv"), (x, y) => x - y).as("rq"))
    val adc = (0 until m).map { s =>
      val codeword = element_at(centArrs(s),
        element_at(col("codes"), s + 1) + 1)
      l2sqLong(slice(col("rq"), s * subDim + 1, subDim), codeword)
    }.reduce(_ + _)
    probes.join(packedCodes, Seq("cell0"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cell0"), col("vec_id"), adc.as("adc_d2"))
  }

  /**
   * ADC shortlist → exact re-rank: the production IVF-PQ serving shape.
   * Compressed codes give a cheap `shortlist`-sized candidate set per query
   * ([[pqAdcTopK]]); only those candidates are re-scored against their
   * exact (quantized) vectors and the true top-k of the shortlist returned.
   * Recall loss from 32× compression is mostly ordering noise NEAR the
   * boundary, so a modest shortlist (10·k) recovers most of it while
   * touching |Q|·shortlist exact vectors instead of |Q|·N.
   *
   * Scale shape: the candidate set (|Q|·shortlist rows) is broadcast
   * against the corpus — the full-precision vectors are read ONLY for
   * joined candidates (at rest they'd live in a separate column/store;
   * here the same frame), no corpus shuffle, one rank window over
   * |Q|·shortlist rows.
   */
  def pqRerankTopK(queries: DataFrame, codes: DataFrame, cents: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      shortlist: Int, k: Int): DataFrame =
    rerankExact(
      pqAdcTopK(queries, codes, cents, idCol, vecCol, m, shortlist)
        .select(col("query_id"), col("neighbor_id")),
      queries, corpus, idCol, vecCol, k)

  /** [[pqRerankTopK]]'s shortlist stage swapped for the IVF-PQ composite:
    * probe → ADC shortlist → exact re-rank, the complete production ANN
    * query path. Re-ranking recovers ADC's ordering noise; what remains is
    * the probe's own membership ceiling (a true neighbor outside every
    * probed cell is unreachable at any shortlist — raise nProbe, not
    * shortlist, to move it). */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, ksub: Int, iters: Int, nCells: Int,
      nProbe: Int, shortlist: Int, k: Int): DataFrame =
    rerankExact(
      ivfPqTopK(queries, corpus, idCol, vecCol, m, ksub, iters, nCells,
        nProbe, shortlist)
        .select(col("query_id"), col("neighbor_id")),
      queries, corpus, idCol, vecCol, k)

  /** Exact re-rank of a (query_id, neighbor_id) candidate frame: only the
    * candidates touch full-precision vectors — the broadcast side is
    * |Q|·shortlist rows, the corpus joins on its id with no shuffle, and
    * one rank window over the candidate set returns the true top-k of the
    * shortlist. */
  private def rerankExact(cand: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), quantizeVec(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), quantizeVec(col(vecCol)).as("cv"))
    val scored = c.join(broadcast(cand.join(broadcast(q), Seq("query_id"))),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        l2sqLong(col("qv"), col("cv")).as("d2"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("d2"))
  }

  /**
   * IVF-PQ (IVFADC, Jégou et al. 2011 §IV): the full production composite —
   * a coarse quantizer partitions the corpus into `nCells` inverted lists,
   * each vector's RESIDUAL (x − coarse centroid) is product-quantized, and
   * a query probes only its `nProbe` nearest coarse cells, scoring members
   * by ADC over the residual codebook. This is the shape a 100 TB ANN
   * deployment actually runs: the probe prunes the candidate space to
   * ~nProbe/nCells of the corpus BEFORE any distance work, residual PQ
   * keeps the in-memory index at m bytes/vector, and every join below is
   * an equi-join on (cell, sub, code) — no pairwise blowup anywhere.
   *
   * Construction reuses the PQ building blocks verbatim: the coarse
   * quantizer IS [[pqTrainOnSubs]] with one subspace spanning the full
   * vector; residual training/encoding are the same Lloyd/argmin over the
   * residual frame (integer-exact throughout — residuals are differences
   * of longs). Output contract matches [[pqAdcTopK]]; `adc_d2` is the ADC
   * estimate within probed cells only (a vector outside every probed cell
   * is simply absent — the recall/compression trade the spec measures).
   *
   * Scale shape: two broadcast-joined Lloyd trainings (coarse: nCells
   * rows; residual: m·ksub rows), corpus passes are projections +
   * map-side-combined argmins; search is lut-broadcast equi-join +
   * one aggregation, identical to [[pqAdcTopK]] but further filtered by
   * the probed (query, cell) pairs in the lut.
   */
  /** IVF-PQ index construction — the training/encoding half of [[ivfPqTopK]]
    * extracted so batch search and the streaming static-artifact path build
    * from ONE definition (the same can't-silently-diverge discipline as the
    * shared BPE fold). Returns (coarse cells: (cell0, coarsev) — nCells
    * rows; residual codebook: pqTrain contract — m·ksub rows; codes:
    * (vec_id, sub_id, code, cell0) — m rows per vector). */
  def ivfPqIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int, nCells: Int): (DataFrame, DataFrame, DataFrame) = {
    // both quantizers ride pqAssign's packed argmin — see pqTrainOnSubs
    require(nCells >= 1 && nCells <= 256,
      s"nCells must be in [1, 256] (packed-argmin bound), got $nCells")
    val cv = corpus.select(col(idCol).as("vec_id"), quantizeVec(col(vecCol)).as("vq"))
    // coarse quantizer: a PQ with ONE subspace spanning the whole vector
    val cv1 = subVectorsQ(cv, 1)
    val coarseCents = pqTrainOnSubs(cv1, nCells, iters)
    val coarse = coarseCents
      .select(col("cell_id").as("cell0"), col("cellv").as("coarsev"))
    // inverted lists + integer residuals — the one-shot coarse assignment
    // rides the zero-shuffle static fold (the codebook is already a
    // collected local relation); only the tiny coarse table is joined back
    // (broadcast) to form the residual
    val resid = pqAssignStatic(cv1, collectCodebook(coarseCents))
      .select(col("vec_id"), col("cell_id").as("cell0"), col("subv").as("vq"))
      .join(broadcast(coarse), Seq("cell0"))
      .select(col("vec_id"), col("cell0"),
        zip_with(col("vq"), col("coarsev"), (x, y) => x - y).as("vq"))
      .localCheckpoint()
    // residual codebook + codes (cell0 rides the explode and the argmin)
    val rsv = subVectorsQ(resid, m, carry = Seq("cell0"))
    val pqc = pqTrainOnSubs(rsv.select(col("vec_id"), col("sub_id"), col("subv")),
      ksub, iters)
    val codes = pqAssignStatic(rsv, collectCodebook(pqc), carry = Seq("cell0"))
      .select(col("vec_id"), col("sub_id"), col("cell_id").as("code"), col("cell0"))
    (coarse, pqc, codes)
  }

  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, ksub: Int, iters: Int, nCells: Int,
      nProbe: Int, k: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, s"nProbe must be in [1, $nCells]")
    import org.apache.spark.sql.expressions.Window
    val (coarse, pqc, codes) =
      ivfPqIndexBuild(corpus, idCol, vecCol, m, ksub, iters, nCells)
    // query side: probe nProbe nearest coarse cells, residualize per probe
    val qv = queries.select(col(idCol).as("query_id"), quantizeVec(col(vecCol)).as("qv"))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("cd2"), col("cell0"))
    val probes = qv.join(broadcast(coarse), lit(true))
      .withColumn("cd2", l2sqLong(col("qv"), col("coarsev")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("cell0"),
        zip_with(col("qv"), col("coarsev"), (x, y) => x - y).as("rq"))
    // per-(query, probed cell) ADC lookup table over the residual codebook
    val qsub = probes.select(col("query_id"), col("cell0"),
      posexplode(splitSubs(col("rq"), m)).as(Seq("sub_id", "subv")))
    val lut = qsub.join(pqc, Seq("sub_id"))
      .select(col("query_id"), col("cell0"), col("sub_id"),
        col("cell_id").as("code"), l2sqLong(col("subv"), col("cellv")).as("pd2"))
    val scored = codes.join(broadcast(lut), Seq("cell0", "sub_id", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("adc_d2"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_d2"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("adc_d2"))
  }

  /** Exact squared-L2 top-k in the same quantized integer space (the
    * brute-force baseline ADC recall is gated against — same contract as
    * [[cosineTopK]], metric swapped). */
  def l2TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), quantizeVec(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), quantizeVec(col(vecCol)).as("cv"))
    val scored = c.join(broadcast(q), lit(true))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        l2sqLong(col("qv"), col("cv")).as("d2"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("d2"))
  }

  /** Exact inner-product (MIPS) brute-force top-k — the full-precision
    * baseline [[int8TopK]]'s recall is gated against. Same broadcast shape
    * as [[cosineTopK]], metric swapped for the raw dot product (the score
    * SQ8's integer dot approximates; cosine would be the wrong baseline for
    * a corpus whose norms vary). */
  def dotTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qv"), col("cv")).as("score"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** Symmetric global-scale int8 levels: `round(x / amax · 127)` with the
    * corpus-wide `amax = max |x|` — every element lands in [-127, 127] by
    * construction (no clamp branch), and a degenerate all-zero corpus
    * (amax = 0) maps to level 0. The SYMMETRIC scheme (zero-point = 0) is
    * what makes the integer dot product rank-faithful: the reconstructed
    * dot is `(amax/127)² · Σ lq·lc` — one POSITIVE query-independent factor,
    * so ranking by the integer sum IS ranking by the reconstructed inner
    * product. An affine scheme (per-dim min/max, like [[Embeddings
    * .quantizeInt8]]'s storage form) would add query-dependent cross terms
    * and break that equivalence. */
  def int8Levels(vec: Column, amax: Double): Column =
    if (amax == 0.0) transform(vec, _ => lit(0))
    else transform(vec, x => round(x / lit(amax) * lit(127.0)).cast("int"))

  /** Integer dot product of two int-level arrays as a long — exact in any
    * engine, via the native codegen'd expression (the
    * `aggregate(zip_with(...))` chain it replaces is a CodegenFallback
    * HigherOrderFunction — two interpreted closures per element in the
    * |Q|×|corpus| hot loop; see [[graft.functions.ArrayDotLong]]). */
  def intDot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.array_dot_long(a, b)

  /** Corpus-wide symmetric-quantization scale `max |x|` — SQ8's single
    * trained artifact. One full-scan aggregation collected as ONE double
    * (the [[Embeddings.minMaxStats]] precedent: a bounded driver collect of
    * O(1) model state, folded into the plan as a literal so the level
    * projection is pure codegen — no scalar cross-join in the plan at all).
    * A deployment computes this once per index build and stores it next to
    * the quantized corpus; the catalog row recomputes it in-query under the
    * honest-recompute convention. */
  def int8Amax(corpus: DataFrame, vecCol: Column): Double = {
    val row = corpus
      .select(array_max(transform(asDouble(vecCol), x => abs(x))).as("va"))
      .agg(max(col("va"))).head
    // empty corpus: max is NULL — amax 0.0 is the degenerate scale
    // int8Levels already defines (all levels 0; no rows to score anyway)
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /**
   * SQ8 scalar-quantized brute-force top-k: the cheapest tier of the ANN
   * ladder (4× smaller vectors than float32, integer-only score loop),
   * sitting between exact brute force and PQ/ADC on the quality–cost curve.
   * Corpus and queries are quantized with the SAME corpus-trained scale
   * ([[int8Levels]]); each pair costs one integer dot product; ranking is
   * by integer score desc with id tie-break — fully integer-exact, so the
   * emitted (rank, neighbor, iscore) triples are bit-identical across
   * engines with NO float tolerance anywhere.
   *
   * Scale shape: identical to [[cosineTopK]] — the O(10) query side is
   * broadcast, the corpus never shuffles, one rank window over |Q|·k-ish
   * scored rows. At 100 TB the quantized corpus is the thing that makes
   * this tier matter: a 64-dim int8 corpus is 64 B/vector, so a scan tier
   * that would thrash on float32 stays memory-resident 4× longer, and the
   * integer loop vectorizes. Recall vs the exact-MIPS baseline is measured
   * by `sim_recall_int8` — quantization noise only reorders near-ties, so
   * recall sits far above the LSH/IVF pruning tiers (which DROP candidates;
   * SQ8 scores every one, just coarser).
   */
  def int8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val amax = int8Amax(corpus, col(vecCol))
    val q = queries.select(col(idCol).as("query_id"),
      int8Levels(asDouble(col(vecCol)), amax).as("ql"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      int8Levels(asDouble(col(vecCol)), amax).as("cl"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        intDot(col("ql"), col("cl")).as("iscore"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("iscore").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("iscore"))
  }

  /**
   * SQ8 serving projection against STATIC artifacts — the streaming side of
   * [[int8TopK]], completing the static ladder ([[assignCellsStatic]] /
   * [[pqEncodeStatic]] / [[ivfPqSearchStatic]]): the caller passes the
   * stored corpus scale (`amax`, trained once at index build) and a small
   * query frame; every arriving vector is quantized and scored against the
   * broadcast queries in one stateless projection + broadcast join — legal
   * in append-mode streams. No ranking here: a global top-k needs bounded
   * cross-batch state, so serving pipelines feed these scores to
   * `topk_by` per micro-batch or to a downstream store. Scores are
   * bit-identical to [[int8TopK]]'s for the same amax (spec-pinned).
   */
  def int8ScoreStatic(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, amax: Double): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      int8Levels(asDouble(col(vecCol)), amax).as("ql"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      int8Levels(asDouble(col(vecCol)), amax).as("cl"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        intDot(col("ql"), col("cl")).as("iscore"))
  }

  /** Corpus side of every bucketed-LSH join — (neighbor_id, cv, cn,
    * bucket), the assignment derived LIVE ([[lshBucket]]) or read from the
    * PERSISTED `lsh_corpus` table. ONE implementation on purpose (r18
    * review): the four bucketed* forms and the streaming twin all claim
    * "bit-identical, one oracle gates both" — a drift between copies of
    * this block would silently break that contract. */
  private[graft] def corpusWithBuckets(corpus: DataFrame, idCol: String,
      vecCol: String, nPlanes: Int, persisted: Option[DataFrame]): DataFrame = {
    val base = corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    persisted match {
      case Some(b) => base.join(b.select(col("vec_id").as("neighbor_id"),
        col("bucket")), Seq("neighbor_id"))
      case None => base.withColumn("bucket", lshBucket(col("cv"), nPlanes))
    }
  }

  /** Bucket equi-join + exact cosine + per-query top-k: the shared tail of
    * the four bucketed* forms (q carries query_id, qv, qn, bucket — one
    * row per probed bucket). Same single-implementation rationale as
    * [[corpusWithBuckets]]. */
  private def scoreAndRank(q: DataFrame, c: DataFrame, k: Int): DataFrame = {
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** The single-probe query side: (query_id, qv, qn, bucket). */
  private def singleProbeQueries(queries: DataFrame, idCol: String,
      vecCol: String, nPlanes: Int): DataFrame =
    queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("bucket", lshBucket(col("qv"), nPlanes))

  /** Bucketed ANN top-k: same contract as [[cosineTopK]] but joins on the
    * LSH bucket, so each query only scores its bucket's corpus rows. */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nPlanes: Int = 8): DataFrame =
    scoreAndRank(singleProbeQueries(queries, idCol, vecCol, nPlanes),
      corpusWithBuckets(corpus, idCol, vecCol, nPlanes, None), k)

  /**
   * [[bucketedTopK]] against a PERSISTED corpus bucket assignment — the
   * serving half of the LSH tier (verdict-r16 item 4): the per-vector
   * nPlanes×dim projection pass that dominates bucket assignment at
   * corpus scale is paid once at index build ([[Artifacts.annEval]]'s
   * `lsh_corpus` table holds (vec_id, bucket)); queries still derive
   * their own bucket live (O(|Q|) work). Bit-identical output to
   * [[bucketedTopK]] — the persisted buckets come from the same
   * [[lshBucket]] expression and longs round-trip parquet losslessly —
   * so one oracle gates both forms.
   */
  def bucketedTopKServed(queries: DataFrame, corpus: DataFrame,
      corpusBuckets: DataFrame, idCol: String, vecCol: String,
      k: Int, nPlanes: Int = 8): DataFrame =
    scoreAndRank(singleProbeQueries(queries, idCol, vecCol, nPlanes),
      corpusWithBuckets(corpus, idCol, vecCol, nPlanes, Some(corpusBuckets)), k)

  /**
   * [[ivfTopK]] against PERSISTED centroids and inverted lists — the
   * serving half of the IVF tier: k-means training AND the corpus-wide
   * nearest-cell assignment (the full-scan broadcast pass + per-vector
   * rank) are paid once at index build ([[Artifacts.annEval]]'s
   * `ivf_centroids` / `ivf_corpus` tables); a query batch pays only its
   * own probe ranking (|Q|·nCells rows) and the probed-cell equi-join.
   * `assigned` carries (cell_id, corpus_id). Bit-identical output to
   * [[ivfTopK]] with the same trained centroids ([[assignCells]] and
   * ivfTopK's internal assignment share the cosine expression and
   * tie-break; doubles round-trip parquet losslessly), so one oracle
   * gates both forms.
   */
  def ivfTopKServed(queries: DataFrame, corpus: DataFrame,
      assigned: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("queryv"))
      .withColumn("qn", norm(col("queryv")))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("cell_cos").desc, col("cell_id"))
    val probes = v
      .join(broadcast(centroids.withColumn("cell_norm", norm(col("cellv")))),
        lit(true))
      .withColumn("cell_cos",
        dot(col("queryv"), col("cellv")) / (col("qn") * col("cell_norm")))
      .withColumn("cell_rank", row_number().over(wp))
      .filter(col("cell_rank") <= nProbe)
      .select(col("query_id"), col("queryv"), col("qn"), col("cell_id"))
    val c = corpus.select(col(idCol).as("corpus_id"),
        asDouble(col(vecCol)).as("corpusv"))
      .withColumn("cn", norm(col("corpusv")))
      .join(assigned.select(col("cell_id"), col("corpus_id")), Seq("corpus_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probes.join(c, Seq("cell_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id").as("neighbor_id"),
        (dot(col("queryv"), col("corpusv")) / (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /**
   * MULTI-PROBE hyperplane LSH top-k (Lv et al., VLDB 2007 — the standard
   * production recall lever between "more bands" and IVF): each query
   * scores its own bucket PLUS the single-bit-flip neighbor buckets of
   * the `nProbes − 1` hyperplanes it lies CLOSEST to (smallest
   * |projection| — the sign bits most likely to disagree with a true
   * neighbor's), probed in deterministic ascending-|projection| order
   * (ties by plane index). Recall rises at ZERO index cost — the corpus
   * keeps exactly one bucket per vector; only the query side fans out,
   * nProbes buckets instead of one, so the scan fraction is
   * nProbes/2^nPlanes.
   *
   * Determinism: projections are the same left-to-right folds as
   * [[lshBucket]] (bit-identical doubles cross-engine), so the probe
   * SEQUENCE itself — not just the candidate set — is oracle-replayable,
   * which is what makes measured recall a DuckDB-gated value (the
   * `sim_recall_lsh` precedent). Probe buckets are distinct by
   * construction (distinct single-bit flips), and a corpus vector lives
   * in one bucket, so candidates never duplicate — no dedup pass.
   */
  /** The query-side multi-probe fan-out shared by [[bucketedTopKMultiProbe]]
    * and its served twin: (query_id, qv, qn) exploded to one row per probed
    * bucket — own bucket first, then the single-bit flips of the nProbes−1
    * closest hyperplanes in deterministic ascending-(|proj|, plane) order. */
  private[graft] def multiProbeQueries(queries: DataFrame, idCol: String,
      vecCol: String, nPlanes: Int, nProbes: Int): DataFrame = {
    require(nProbes >= 1 && nProbes <= nPlanes + 1,
      s"nProbes must be in [1, ${nPlanes + 1}]")
    val q0 = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    // one struct per plane: (|proj|, plane, sign bit) — the bit fold below
    // reproduces lshBucket's exact left-to-right bucket derivation
    val projs = transform(sequence(lit(0), lit(nPlanes - 1)), p => {
      val s = aggregate(
        zip_with(col("qv"), sequence(lit(0), size(col("qv")) - 1),
          (x, d) => x * planeCoeff(p, d)),
        lit(0.0), (acc, x) => acc + x)
      struct(abs(s).as("a"), p.as("p"),
        when(s >= 0, pow(lit(2.0), p).cast("long")).otherwise(lit(0L)).as("bit"))
    })
    val withBucket = q0.withColumn("pr", projs)
      .withColumn("bucket0",
        aggregate(transform(col("pr"), s => s.getField("bit")),
          lit(0L), (acc, x) => acc + x))
    // probe list: own bucket first, then flips in (|proj|, plane) order
    val flips = slice(array_sort(col("pr")), 1, nProbes - 1)
    withBucket
      .withColumn("bucket", explode(concat(
        array(col("bucket0")),
        transform(flips, f => col("bucket0")
          .bitwiseXOR(pow(lit(2.0), f.getField("p")).cast("long"))))))
      .select(col("query_id"), col("qv"), col("qn"), col("bucket"))
  }

  def bucketedTopKMultiProbe(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nPlanes: Int = 8,
      nProbes: Int = 4): DataFrame =
    scoreAndRank(multiProbeQueries(queries, idCol, vecCol, nPlanes, nProbes),
      corpusWithBuckets(corpus, idCol, vecCol, nPlanes, None), k)

  /**
   * [[bucketedTopKMultiProbe]] against the PERSISTED corpus bucket
   * assignment — the served multiprobe tier (verdict-r17 item 2). The
   * key property is that multi-probing needs NO new artifact: the corpus
   * keeps exactly one bucket per vector (the same
   * [[Artifacts.annEval]] `lsh_corpus` table [[bucketedTopKServed]]
   * reads); only the QUERY side fans out to its nProbes buckets, all
   * derived live (O(|Q|·nPlanes) work). Bit-identical output to
   * [[bucketedTopKMultiProbe]] — persisted buckets come from the same
   * [[lshBucket]] expression and longs round-trip parquet losslessly —
   * so one oracle gates both forms.
   */
  def bucketedTopKMultiProbeServed(queries: DataFrame, corpus: DataFrame,
      corpusBuckets: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, nProbes: Int = 4): DataFrame =
    scoreAndRank(multiProbeQueries(queries, idCol, vecCol, nPlanes, nProbes),
      corpusWithBuckets(corpus, idCol, vecCol, nPlanes, Some(corpusBuckets)), k)

  /**
   * Corpus self-kNN graph over LSH candidates: every document's k
   * most-similar in-corpus neighbors, drawn from the banded-hyperplane
   * candidate set ([[lshBandBucketsFast]], the same bands + hot-bucket cap
   * discipline as `Dedup.embeddingNearDupBucketed`). The kNN graph is the
   * backbone of SemDeDup-style cluster pruning, diversity sampling, and
   * kNN-density outlier gates over a training corpus.
   *
   * Scale shape: candidates come from the (band, bucket) equi-join —
   * Σ|bucket|² pair space, never corpus² — with oversized buckets degraded
   * to a bidirectional anchor star (every member keeps the anchor as a
   * candidate and the anchor sees all members, O(|bucket|) pairs). Pairs
   * dedupe on (src, dst) across bands, then one window ranks per src. The
   * corpus never broadcasts and never crosses itself; the only exchanges
   * are the (band, bucket) join key and the final src_id rank partition.
   *
   * The graph is DEFINED by this algorithm (planes, bands, cap, tie-break),
   * so the DuckDB oracle recomputes the same projections; recall vs the
   * exact brute-force graph is a measured property (spec), not the
   * correctness gate. Ties rank by neighbor id ascending.
   */
  def knnGraph(embeddings: DataFrame, idCol: String, vecCol: String, k: Int,
      nBands: Int = 4, rowsPerBand: Int = 2, dim: Int = -1,
      maxBucketSize: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The bucket space is BOUNDED BY CONSTRUCTION: a band bucket is the
    // rowsPerBand-bit sign pattern, so there are at most nBands·2^rowsPerBand
    // cells no matter the corpus size. The per-cell stats the join lanes and
    // the cross-band dedup need (bsize = |cell|, anchor = min id) therefore
    // collect to a bounded driver table and fold into constant literal
    // lookups (the kmeansCentroids/pqEncodeStatic static-fold discipline) —
    // which removes BOTH O(rows) exchanges the windowed reference form
    // [[knnGraphJoined]] pays (the per-cell Window partition and the
    // O(pairs) distinct): duplicates across bands are dropped at the source
    // by a codegen first-generating-band filter instead of re-shuffling and
    // hash-aggregating every scored pair (measured: 4.06M pairs → 3.4M-row
    // exchange + two O(pairs) HashAggregates at avgHashProbe 479, ~18s of a
    // 39s-CPU query, for a 1.48× dedup the rank window re-cuts to 320k rows
    // anyway). The cap below is far above every caller's ≤ 16 cells.
    require(rowsPerBand <= 12 && (nBands.toLong << rowsPerBand) <= 4096,
      s"knnGraph: $nBands bands · 2^$rowsPerBand exceed the 4096-cell cap")
    val nBuckets = 1 << rowsPerBand
    val bandBuckets =
      if (dim > 0) lshBandBucketsFast(col("v"), nBands, rowsPerBand, dim)
      else lshBandBuckets(col("v"), nBands, rowsPerBand)
    // materialized once pre-join for the same ReuseExchange reason as the
    // dedup path: the aliased join sides would otherwise recompute the
    // per-plane bucket derivation (and the cells pass below would pay it a
    // third time)
    val base = embeddings.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
      .withColumn("bkts", bandBuckets)
      .localCheckpoint()
    // one bounded map-side-combined agg job: ≤ nBands·2^rowsPerBand rows
    val cells = base
      .select(posexplode(col("bkts")).as(Seq("band", "bucket")), col("id"))
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsize"), min(col("id")).as("anchor"))
      .collect()
    val idType = base.schema("id").dataType
    val bsizeArr = Array.fill(nBands, nBuckets)(0L)
    val anchorArr = Array.fill[Any](nBands, nBuckets)(null)
    cells.foreach { r =>
      val (b, u) = (r.getInt(0), r.getLong(1).toInt)
      bsizeArr(b)(u) = r.getLong(2); anchorArr(b)(u) = r.get(3)
    }
    def bsizeLit(b: Int): Column = array(bsizeArr(b).map(lit).toSeq: _*)
    def anchorLit(b: Int): Column = array(anchorArr(b).map(a =>
      if (a == null) lit(null).cast(idType) else lit(a)).toSeq: _*)
    // all-literal CreateArrays constant-fold, so each lookup is one codegen
    // element_at chain; bucket values are always in [0, 2^rowsPerBand)
    def bucketIdx(bucket: Column): Column = (bucket + 1).cast("int")
    def bsizeAt(band: Column, bucket: Column): Column = element_at(
      element_at(array((0 until nBands).map(bsizeLit): _*), band + 1),
      bucketIdx(bucket))
    def anchorAt(band: Column, bucket: Column): Column = element_at(
      element_at(array((0 until nBands).map(anchorLit): _*), band + 1),
      bucketIdx(bucket))
    val v = base.select(col("id"), col("v"), col("n"), col("bkts"),
        posexplode(col("bkts")).as(Seq("band", "bucket")))
      .withColumn("bsize", bsizeAt(col("band"), col("bucket")))
      .withColumn("anchor", anchorAt(col("band"), col("bucket")))
    def srcSide(df: DataFrame) = df.select(col("band"), col("bucket"),
      col("id").as("src_id"), col("v").as("sv"), col("n").as("sn"),
      col("bkts").as("sbkts"))
    def dstSide(df: DataFrame) = df.select(col("band"), col("bucket"),
      col("id").as("dst_id"), col("v").as("dv"), col("n").as("dn"),
      col("bkts").as("dbkts"))
    val small = v.filter(col("bsize") <= maxBucketSize)
    val clique = srcSide(small).join(dstSide(small), Seq("band", "bucket"))
      .filter(col("src_id") =!= col("dst_id"))
    val anchors = v.filter(col("bsize") > maxBucketSize && col("id") === col("anchor"))
    val members = v.filter(col("bsize") > maxBucketSize && col("id") =!= col("anchor"))
    // bidirectional star: member→anchor keeps every member connected;
    // anchor→member lets the anchor rank its full cell
    val star = srcSide(anchors).join(dstSide(members), Seq("band", "bucket"))
      .unionByName(srcSide(members).join(dstSide(anchors), Seq("band", "bucket")))
    // cross-band dedup AT THE SOURCE: a pair survives only in the FIRST band
    // that generates it. Band bp generates (s, d) iff they share bp's bucket
    // AND (the cell is small, or one endpoint is its anchor) — s ≠ d always
    // holds here, and both endpoints of a shared cell see the same
    // bsize/anchor, so one side's lookup suffices. Exactly one surviving row
    // per generated (s, d), which is what the reference form's distinct()
    // kept (cosine is a function of (s, d), so the keys are equivalent).
    val dupEarlier = (0 until nBands - 1).map { bp =>
      val sb = element_at(col("sbkts"), lit(bp + 1))
      val db = element_at(col("dbkts"), lit(bp + 1))
      val bs = element_at(bsizeLit(bp), bucketIdx(sb))
      val an = element_at(anchorLit(bp), bucketIdx(sb))
      (col("band") > bp) && (sb === db) &&
        (bs <= maxBucketSize || col("src_id") === an || col("dst_id") === an)
    }.reduceOption(_ || _).getOrElse(lit(false))
    val pairs = clique.unionByName(star)
      .filter(!dupEarlier)
      .select(col("src_id"), col("dst_id"),
        (dot(col("sv"), col("dv")) / (col("sn") * col("dn"))).as("cosine"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cosine").desc, col("dst_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("rank"), col("dst_id"), col("cosine"))
  }

  /** Reference implementation of [[knnGraph]] (the pre-r18 windowed form):
    * per-cell stats via a (band, bucket) Window and cross-band duplicates
    * removed by a full distinct() over the scored pairs. Kept verbatim so
    * the static-fold form stays parity-checked against an independent
    * derivation (KnnGraphSpec), the assignCellsJoined discipline. */
  private[graft] def knnGraphJoined(embeddings: DataFrame, idCol: String,
      vecCol: String, k: Int, nBands: Int = 4, rowsPerBand: Int = 2,
      dim: Int = -1, maxBucketSize: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bandBuckets =
      if (dim > 0) lshBandBucketsFast(col("v"), nBands, rowsPerBand, dim)
      else lshBandBuckets(col("v"), nBands, rowsPerBand)
    val byCell = Window.partitionBy(col("band"), col("bucket"))
    val v = embeddings.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
      .select(col("id"), col("v"), col("n"),
        posexplode(bandBuckets).as(Seq("band", "bucket")))
      .withColumn("bsize", count(lit(1)).over(byCell))
      .withColumn("anchor", min(col("id")).over(byCell))
      .localCheckpoint()
    def srcSide(df: DataFrame) = df.select(col("band"), col("bucket"),
      col("id").as("src_id"), col("v").as("sv"), col("n").as("sn"))
    def dstSide(df: DataFrame) = df.select(col("band"), col("bucket"),
      col("id").as("dst_id"), col("v").as("dv"), col("n").as("dn"))
    val small = v.filter(col("bsize") <= maxBucketSize)
    val clique = srcSide(small).join(dstSide(small), Seq("band", "bucket"))
      .filter(col("src_id") =!= col("dst_id"))
    val anchors = v.filter(col("bsize") > maxBucketSize && col("id") === col("anchor"))
    val members = v.filter(col("bsize") > maxBucketSize && col("id") =!= col("anchor"))
    val star = srcSide(anchors).join(dstSide(members), Seq("band", "bucket"))
      .unionByName(srcSide(members).join(dstSide(anchors), Seq("band", "bucket")))
    val pairs = clique.unionByName(star)
      .select(col("src_id"), col("dst_id"),
        (dot(col("sv"), col("dv")) / (col("sn") * col("dn"))).as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cosine").desc, col("dst_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("rank"), col("dst_id"), col("cosine"))
  }

  /**
   * One NN-DESCENT refinement round (Dong et al. 2011, "Efficient k-nearest
   * neighbor graph construction for generic similarity measures" —
   * deterministic full-round variant, no sampling): a node's true neighbors
   * are likely neighbors-of-its-neighbors, so expand each node's candidate
   * set through the SYMMETRIZED graph (forward edges ∪ reverse edges, the
   * reverse side capped at k per node so hub nodes — which appear in
   * thousands of top-k lists — can't blow up the expansion), re-score every
   * candidate with the exact cosine, and re-rank top-k. Union with the
   * current edges first, so a round can only improve recall (monotone).
   *
   * Scale shape: the symmetrized edge set is ≤ 2k rows per node; the
   * two-hop expansion is an equi-join of that set with itself on the mid
   * node, so per-mid fan-out is ≤ (2k)² and the total candidate space is
   * ≤ 4k²·n — linear in the corpus for fixed k, never corpus². Re-scoring
   * joins the vector table twice on its id key (the same shape as the
   * original graph's scoring). Fully deterministic (row_number tie-breaks
   * on ids), so the refined graph is oracle-checkable: DuckDB recomputes
   * the identical expansion (`sim_knn_refined`).
   *
   * `vectors` must carry (id, v, n) — id, double vector, L2 norm — i.e. the
   * projection [[knnGraphRefined]] builds once and shares across rounds.
   */
  def nnDescentRound(g: DataFrame, vectors: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rw = Window.partitionBy(col("dst_id"))
      .orderBy(col("cosine").desc, col("src_id"))
    val rev = g.withColumn("rrank", row_number().over(rw))
      .filter(col("rrank") <= k)
      .select(col("dst_id").as("src_id"), col("src_id").as("dst_id"))
    val e = g.select(col("src_id"), col("dst_id")).unionByName(rev)
      .distinct().localCheckpoint()
    val twoHop = e.join(
        e.select(col("src_id").as("dst_id"), col("dst_id").as("hop_id")),
        Seq("dst_id"))
      .filter(col("src_id") =!= col("hop_id"))
      .select(col("src_id"), col("hop_id").as("dst_id"))
    val cands = twoHop.unionByName(g.select(col("src_id"), col("dst_id")))
      .distinct()
    val scored = cands
      .join(vectors.select(col("id").as("src_id"), col("v").as("sv"),
        col("n").as("sn")), Seq("src_id"))
      .join(vectors.select(col("id").as("dst_id"), col("v").as("dv"),
        col("n").as("dn")), Seq("dst_id"))
      .select(col("src_id"), col("dst_id"),
        (dot(col("sv"), col("dv")) / (col("sn") * col("dn"))).as("cosine"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cosine").desc, col("dst_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("rank"), col("dst_id"), col("cosine"))
  }

  /** [[knnGraph]] + `rounds` NN-descent refinement rounds: the standard
    * recall uplift when LSH candidate recall bounds graph quality. The
    * vector projection is materialized once and shared across rounds; each
    * round's graph is re-materialized (localCheckpoint) so iterated
    * self-joins don't square Catalyst size estimates. */
  def knnGraphRefined(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, nBands: Int = 4, rowsPerBand: Int = 2, dim: Int = -1,
      maxBucketSize: Int = 1024, rounds: Int = 1): DataFrame = {
    val vectors = embeddings
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
      .localCheckpoint()
    var g = knnGraph(embeddings, idCol, vecCol, k, nBands, rowsPerBand, dim,
      maxBucketSize).localCheckpoint()
    (1 to rounds).foreach { _ =>
      g = nnDescentRound(g, vectors, k).localCheckpoint()
    }
    g
  }

  /**
   * Streaming/serving face of [[knnGraph]]: arriving vectors join the STATIC
   * corpus's precomputed (band, bucket) index and emit per-candidate cosine
   * scores — a stateless projection + stream-static equi-join, so it runs
   * identically under `read` and `readStream` in append mode (the
   * [[int8ScoreStatic]] / `ivfPqSearchStatic` ladder convention). No rank,
   * no dedup across bands here: both need cross-row state; serving
   * pipelines take DISTINCT + top-k per micro-batch downstream (parity with
   * the batch graph's pre-rank pair set is spec-pinned). The static side is
   * bucketed once per (re)build — at 100 TB the corpus index is a bucketed
   * table, and each arriving row touches only its ≤ nBands buckets.
   */
  def knnCandidatesStatic(corpusIndex: DataFrame, arrivals: DataFrame,
      idCol: String, vecCol: String, nBands: Int = 4, rowsPerBand: Int = 2,
      dim: Int = -1): DataFrame = {
    def buckets(c: Column) =
      if (dim > 0) lshBandBucketsFast(c, nBands, rowsPerBand, dim)
      else lshBandBuckets(c, nBands, rowsPerBand)
    val a = arrivals.select(col(idCol).as("src_id"), asDouble(col(vecCol)).as("sv"))
      .withColumn("sn", norm(col("sv")))
      .select(col("src_id"), col("sv"), col("sn"),
        posexplode(buckets(col("sv"))).as(Seq("band", "bucket")))
    a.join(corpusIndex, Seq("band", "bucket"))
      .filter(col("src_id") =!= col("dst_id"))
      .select(col("src_id"), col("dst_id"), col("band"),
        (dot(col("sv"), col("dv")) / (col("sn") * col("dn"))).as("cosine"))
  }

  /** The static (band, bucket) corpus index [[knnCandidatesStatic]] joins:
    * one row per (corpus vector, band) with the member's vector and norm.
    * Built once per corpus (re)build; bit-identical bucket ids to
    * [[knnGraph]]'s candidate derivation. */
  def knnCorpusIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nBands: Int = 4, rowsPerBand: Int = 2, dim: Int = -1): DataFrame = {
    def buckets(c: Column) =
      if (dim > 0) lshBandBucketsFast(c, nBands, rowsPerBand, dim)
      else lshBandBuckets(c, nBands, rowsPerBand)
    corpus.select(col(idCol).as("dst_id"), asDouble(col(vecCol)).as("dv"))
      .withColumn("dn", norm(col("dv")))
      .select(col("dst_id"), col("dv"), col("dn"),
        posexplode(buckets(col("dv"))).as(Seq("band", "bucket")))
  }

  /**
   * Mutual-kNN clustering: connected components over the MUTUAL edges of
   * [[knnGraph]] (a↔b both rank within each other's top-k). Mutuality is
   * the standard symmetrization that keeps hub documents from welding
   * unrelated neighborhoods into one giant cluster — a hub ranks in
   * thousands of top-k lists, but ranks back only its own k. Output:
   * (vec_id, cluster_id = min member id, cluster_size), the
   * diversity-sampling / SemDeDup-style grouping primitive (sample n per
   * cluster, or downweight by cluster_size like `dedup_soft_weights`).
   *
   * Scale shape: the graph is ≤ k rows per doc, the mutual filter is a
   * self-semi-join on the graph's own (src, dst) keys, and components run
   * the frontier-only min-label loop (`Dedup.connectedComponents`) — every
   * stage is proportional to corpus·k, never corpus².
   */
  def knnClusters(embeddings: DataFrame, idCol: String, vecCol: String, k: Int,
      nBands: Int = 4, rowsPerBand: Int = 2, dim: Int = -1,
      maxBucketSize: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = knnGraph(embeddings, idCol, vecCol, k, nBands, rowsPerBand, dim,
      maxBucketSize)
    mutualComponents(g, embeddings.select(col(idCol).as("id")))
      .select(col("id").as("vec_id"), col("component").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
  }

  /** Components over the MUTUAL edges of a kNN graph frame (src_id, dst_id,
    * …): the shared tail of [[knnClusters]] and [[diverseSample]]. The edge
    * projection is materialized because the mutual semi-join references it
    * twice and the graph's tail is the whole LSH + rank chain. */
  private def mutualComponents(g: DataFrame, nodes: DataFrame): DataFrame = {
    val e = g.select(col("src_id"), col("dst_id")).localCheckpoint()
    val mutual = e.join(
        e.select(col("dst_id").as("src_id"), col("src_id").as("dst_id")),
        Seq("src_id", "dst_id"), "left_semi")
      .filter(col("src_id") < col("dst_id"))
      .select(col("src_id").as("doc_a"), col("dst_id").as("doc_b"))
    Dedup.connectedComponents(nodes, mutual)
  }

  /**
   * Diversity sampling over the mutual-kNN clustering: ONE representative
   * per cluster — the member with the highest kNN density (fixed-point
   * Σ floor(cosine·2^30) over its graph edges, ties → lowest id), i.e. the
   * most central member, not an arbitrary one. Output is the full corpus
   * with (cluster_id, density_q, rep_keep) so callers can either filter
   * rep_keep = 1 (hard diversity sample) or weight by it. Builds the kNN
   * graph ONCE and shares it between the component and density passes —
   * the composition a naive knnClusters × knnDensityGate call would pay
   * twice for.
   */
  def diverseSample(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, nBands: Int = 4, rowsPerBand: Int = 2, dim: Int = -1,
      maxBucketSize: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = knnGraph(embeddings, idCol, vecCol, k, nBands, rowsPerBand, dim,
      maxBucketSize).localCheckpoint()
    val comp = mutualComponents(g, embeddings.select(col(idCol).as("id")))
    val density = g.groupBy(col("src_id"))
      .agg(sum(floor(col("cosine") * lit(DensityScale)).cast("long"))
        .as("density_q"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("density_q").desc, col("vec_id"))
    comp.select(col("id").as("vec_id"), col("component").as("cluster_id"))
      .join(density.select(col("src_id").as("vec_id"), col("density_q")),
        Seq("vec_id"), "left")
      .withColumn("density_q", coalesce(col("density_q"), lit(0L)))
      .withColumn("rep_keep",
        (row_number().over(w) === 1).cast("int"))
  }

  /** Fixed-point scale for kNN-density sums: floor(cosine · 2^30) per edge.
    * Each per-edge cosine is a deterministic left-fold of doubles (identical
    * cross-engine — the [[cosineTopK]] convention), so its floor is an exact
    * long, and the per-document SUM of longs is order-free — unlike a
    * floating avg, whose partial-sum order differs between engines. */
  val DensityScale: Long = 1L << 30

  /**
   * kNN-density outlier gate on top of [[knnGraph]]: a document whose mean
   * top-k neighbor cosine falls below `tau` sits in a sparse region of
   * embedding space — the standard embedding-side filter for off-topic /
   * garbled / mis-embedded documents in corpus curation. Documents with NO
   * LSH candidates at all (empty kNN row set) are maximally isolated and
   * gate to keep = 0.
   *
   * The gate is evaluated in fixed point: density_q = Σ floor(cosine·2^30)
   * over the document's ≤ k graph edges (order-free exact long), and
   * dense_keep = density_q ≥ floor(tau·2^30)·knn_n — the quantized form of
   * mean-cosine ≥ tau over the ACTUAL candidate count, so sparse-but-
   * consistent neighborhoods aren't penalized twice. One aggregation on the
   * graph's src_id partitioning + a left join back to the corpus id scan.
   */
  def knnDensityGate(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, tau: Double, nBands: Int = 4, rowsPerBand: Int = 2,
      dim: Int = -1, maxBucketSize: Int = 1024): DataFrame = {
    val tauQ = math.floor(tau * DensityScale).toLong
    val g = knnGraph(embeddings, idCol, vecCol, k, nBands, rowsPerBand, dim,
      maxBucketSize)
    val density = g.groupBy(col("src_id"))
      .agg(sum(floor(col("cosine") * lit(DensityScale)).cast("long")).as("density_q"),
        count(lit(1)).as("knn_n"))
    embeddings.select(col(idCol).as("src_id"))
      .join(density, Seq("src_id"), "left")
      .select(col("src_id"),
        coalesce(col("density_q"), lit(0L)).as("density_q"),
        coalesce(col("knn_n"), lit(0L)).as("knn_n"),
        when(coalesce(col("knn_n"), lit(0L)) > 0 &&
            coalesce(col("density_q"), lit(0L)) >= lit(tauQ) * col("knn_n"),
          lit(1)).otherwise(lit(0)).as("dense_keep"))
  }
}
