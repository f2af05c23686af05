package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.SkewOps

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths, per the standard ANN playbook:
  *  - **Brute-force cosine top-k**: exact baseline. The dot product is a
  *    higher-order-function fold (`aggregate`/`zip_with`) — sequential
  *    within each array, so it's deterministic, and it stays inside codegen
  *    (no UDF). Cost is O(N·Q·d); use only for small query sets or as the
  *    rerank stage.
  *  - **Bucketed (LSH / IVF-style) search**: hyperplane sign-bits put each
  *    vector in a bucket; candidate set = same-bucket vectors, reranked
  *    exactly. Turns all-pairs into an equi-join on bucket id — the scale
  *    path: shuffle volume ∝ bucket sizes, not N².
  *
  * Arithmetic determinism: elements are cast float→double (exact), products
  * of such doubles are exact (48-bit mantissa products), and the fold order
  * is the array order — results are bit-identical across engines and
  * cluster layouts.
  */
object Similarity {

  /** Exact dot product of two float-array columns, computed in double.
    * Backed by the codegen'd FloatVectorDot expression (a tight primitive
    * loop in whole-stage codegen); `dotHof` is the pure-builtin
    * higher-order-function formulation with identical semantics, kept as
    * the reference implementation. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.fdot(a, b)

  /** Reference (slow-path) formulation via builtin higher-order functions:
    * same left-to-right double fold, no custom expression. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x
    )

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Every retrieval path funnels its candidates through the LongType
    * TopKPairs aggregate — a string id would cast to NULL, be skipped by
    * the aggregate, and the query would return silently-empty results
    * (the same failure class clusterRepresentatives' tie-break had in
    * round 6). Refuse loudly instead, like capPerKey. */
  private def requireIntegralId(df: DataFrame, idCol: String, fn: String): Unit = {
    import org.apache.spark.sql.types._
    val t = df.schema(idCol).dataType
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType)(t),
      s"$fn id column '$idCol' must be integral (rides through a LongType " +
        s"top-k aggregate), got ${t.simpleString}")
  }

  /** Brute-force cosine top-k neighbors for every vector in `queries`
    * against `corpus` (excluding self-matches on id equality).
    *
    * Norms are computed once per vector *before* the N×M join (not per
    * pair — that would triple the dominant dot-product cost), so each pair
    * evaluates exactly one dot product. cos = dot/(‖q‖·‖c‖) keeps the raw
    * dot exact; the two-norm product ordering is identical across engines. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String, k: Int
  ): DataFrame = {
    requireIntegralId(corpus, idCol, "bruteForceTopK")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    // Logical-plan equivalence, not reference equality: two separately
    // loaded DataFrames over the same source still qualify for the
    // halved-pair self-similarity optimization.
    val sameSet = queries.eq(corpus) ||
      queries.queryExecution.analyzed.sameResult(corpus.queryExecution.analyzed)
    val scored =
      if (sameSet) {
        // Self-similarity: cos is symmetric and the per-element product
        // stream is identical in both directions, so each unordered pair
        // is computed ONCE and both orientations emitted from the same row
        // (explode of two structs over one computed cos). One join in the
        // plan — a union of two references would execute the broadcast
        // join twice, paying N² dot products for N²/2 pairs.
        q.join(broadcast(c), col("query_id") < col("neighbor_id"))
          .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .select(explode(array(
            struct(col("query_id"), col("neighbor_id"), col("cos")),
            struct(col("neighbor_id").as("query_id"),
              col("query_id").as("neighbor_id"), col("cos")))).as("p"))
          .select(col("p.query_id").as("query_id"),
            col("p.neighbor_id").as("neighbor_id"), col("p.cos").as("cos"))
      } else {
        q.join(broadcast(c), col("query_id") =!= col("neighbor_id"))
          .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .select("query_id", "neighbor_id", "cos")
      }
    topKByQuery(scored, k)
  }

  /** Per-query bounded top-k via the native TopKPairs aggregate: map-side
    * partials keep ≤k rows per (query, partition), so the shuffle carries
    * |queries|·k·|partitions| rows instead of the full N×M candidate set
    * (a global row_number window would sort every candidate). Ordering is
    * (cos desc, neighbor asc) — identical to the window formulation.
    * TypedImperativeAggregate with primitive-array buffers: no per-row
    * encoder boundary (the replaced typed-Aggregator UDAF spent ~3× the
    * dot-product cost on input boxing + Vector appends). */
  private def topKByQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(graft.expressions.TopKPairs.topk(
        col("neighbor_id").cast("long"), col("cos").cast("double"), k).as("tops"))
      .select(col("query_id"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t._2").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), col("t._1").as("cos"))

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009, public):
    * fuse per-query rankings from heterogeneous retrievers into one list
    * by score Σᵢ 1/(c + rankᵢ) over the rankings that returned the
    * (query, neighbor) pair — the standard hybrid-retrieval combiner
    * (lexical ⊕ dense, cheap-tier ⊕ exact-tier) that needs no score
    * calibration because only RANKS enter. Each input frame carries
    * (query_id, neighbor_id, rank); a pair absent from a ranking simply
    * contributes nothing. The fused score is a sum of exactly-rounded
    * reciprocals, so it is bit-identical across engines; ties (e.g. two
    * pairs each appearing in a single ranking at the same rank) break by
    * neighbor id.
    *
    * Scale shape: the union is map-side, ONE shuffle aggregates
    * contributions on (query, neighbor) — each pair has ≤ |rankings|
    * rows — and the per-query cut runs through the bounded TopKPairs
    * aggregate, never a ranking window. Output: (query_id, neighbor_id,
    * rank, rrf). */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(k >= 1, s"rrfFuse: k must be >= 1, got $k")
    require(c >= 0, s"rrfFuse: rank constant c must be >= 0, got $c")
    val contrib = rankings.map(_.select(
        col("query_id"), col("neighbor_id").cast("long").as("neighbor_id"),
        (lit(1.0d) / (lit(c).cast("double") + col("rank").cast("double")))
          .as("part")))
      .reduce(_.unionByName(_))
    contrib.groupBy("query_id", "neighbor_id")
      // sorted fold, not sum(): ≤|rankings| doubles per pair, and adding
      // them in value order makes the fused score independent of partial-
      // aggregation order (two addends are commutative-exact; three or
      // more are not associative in float)
      .agg(aggregate(sort_array(collect_list(col("part"))), lit(0.0d),
        (a, x) => a + x).as("rrf"))
      .groupBy("query_id")
      .agg(graft.expressions.TopKPairs.topk(
        col("neighbor_id"), col("rrf"), k).as("tops"))
      .select(col("query_id"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t._2").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), col("t._1").as("rrf"))
  }

  /** Maximal Marginal Relevance diversification (Carbonell & Goldstein
    * 1998, public): greedily select `k` results per query from a bounded
    * shortlist, each step taking the candidate that maximizes
    * λ·rel − (1−λ)·max_{s∈selected} cos(c, s) — relevance traded against
    * redundancy with what is already picked. THE standard result
    * diversifier, and in curation the diverse-subset selector (diverse
    * few-shot pools, cluster-spanning eval slices).
    *
    * `candidates` carries (query_id, neighbor_id, rel) — any retrieval
    * tier's bounded top-N; `vectors` supplies candidate embeddings for
    * the pairwise diversity term. Output (query_id, neighbor_id, step),
    * step = 1..k in selection order; queries whose shortlist runs out
    * stop early.
    *
    * Scale shape: the greedy loop is inherently sequential in k, so this
    * runs k bounded rounds — each joins the remaining shortlist rows
    * (≤N per query) against that query's ≤k selected rows and reduces
    * with max/argmax AGGREGATES (max of ≤k exact cosines, argmax as a
    * struct max with id tie-break) — no ranking window, no cross-corpus
    * work, per-round cost O(|queries|·N·k). Frames are
    * localCheckpointed per round to keep lineage flat. */
  def mmrDiversify(
      candidates: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, k: Int, lambda: Double): DataFrame = {
    require(k >= 1, s"mmrDiversify: k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmrDiversify: lambda must be in [0, 1], got $lambda")
    requireIntegralId(vectors, idCol, "mmrDiversify")
    val v = vectors.select(col(idCol).cast("long").as("__vid"),
      col(vecCol).as("cvec"), norm(col(vecCol)).as("cnrm"))
    val cand = candidates.select(col("query_id"),
        col("neighbor_id").cast("long").as("neighbor_id"),
        col("rel").cast("double").as("rel"))
      .join(v, col("neighbor_id") === col("__vid")).drop("__vid")
      .localCheckpoint()
    def argmax(df: DataFrame, scoreCol: String): DataFrame =
      df.groupBy("query_id")
        .agg(max(struct(col(scoreCol).as("s"),
          (-col("neighbor_id")).as("negid"))).as("m"))
        .select(col("query_id"), (-col("m.negid")).as("neighbor_id"))
    var selected = argmax(cand, "rel").withColumn("step", lit(1))
      .localCheckpoint()
    for (t <- 2 to k) {
      val selV = selected
        .join(cand.select("query_id", "neighbor_id", "cvec", "cnrm"),
          Seq("query_id", "neighbor_id"))
        .select(col("query_id"), col("cvec").as("svec"),
          col("cnrm").as("snrm"))
      val remaining = cand.join(selected.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      val scored = remaining.join(selV, Seq("query_id"))
        .withColumn("__sim", dot(col("cvec"), col("svec")) /
          (col("cnrm") * col("snrm")))
        .groupBy(col("query_id"), col("neighbor_id"), col("rel"))
        .agg(max(col("__sim")).as("__pen"))
        .withColumn("__score",
          lit(lambda) * col("rel") - lit(1.0d - lambda) * col("__pen"))
      selected = selected
        .unionByName(argmax(scored, "__score").withColumn("step", lit(t)))
        .localCheckpoint()
    }
    selected
  }

  /** Deterministic hyperplane bucket id (nBits sign bits). The planes are
    * the simplest orthogonal family — plane j compares dims 2j vs 2j+1 —
    * which is engine-portable (subtraction of floats, exact in double) and
    * serves as the bucketing baseline; production would use seeded random
    * Gaussian planes (same operator shape, broadcast plane matrix). */
  def hyperplaneBucket(vec: Column, nBits: Int): Column =
    (0 until nBits)
      .map(j => when(element_at(vec, 2 * j + 1).cast("double") >
        element_at(vec, 2 * j + 2).cast("double"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Seeded random Gaussian hyperplanes (classic SimHash-for-cosine LSH):
    * nBits planes in R^dim, generated deterministically from `seed` on the
    * driver and shipped as literals — every executor sees the same planes,
    * re-runs are idempotent. For two vectors at angle θ, P(same bit) =
    * 1 − θ/π, so bucket collision concentrates near-neighbors. */
  def gaussianPlanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Bucket id from seeded-Gaussian plane sign bits. The plane dot product
    * is a zip_with/aggregate fold over the vector — codegen'd, no UDF. */
  def gaussianBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val d = aggregate(
        zip_with(vec, typedlit(p), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
      when(d > 0d, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF/LSH-bucketed neighbor candidates: same-bucket pairs with exact
    * cosine rerank and threshold.
    *
    * **This is the default ANN entry point at scale** (SURVEY §2 similarity
    * search): shuffle volume ∝ Σ|bucket|², never N². `bruteForceTopK` is
    * the exact small-corpus baseline and the rerank stage. `bucketFn`
    * selects the hash family — `hyperplaneBucket(_, nBits)` (portable,
    * oracle-checkable) or `gaussianBucket(_, planes)` (production).
    * `maxBucket` drops degenerate buckets (all-zero vectors, constant
    * embeddings) the same way Dedup.lshCandidates caps LSH keys. */
  def bucketedNeighbors(
      vectors: DataFrame, idCol: String, vecCol: String, nBits: Int, minCos: Double,
      maxBucket: Int = Int.MaxValue
  ): DataFrame =
    bucketedNeighborsBy(vectors, idCol, vecCol,
      hyperplaneBucket(col(vecCol), nBits), minCos, maxBucket)

  /** Multi-probe hyperplane LSH retrieval (Lv et al., VLDB 2007,
    * public): probe the query's own sign bucket PLUS every Hamming-1
    * perturbation — (nBits+1)× probes instead of (nBits+1)× hash
    * tables, the classic recall-for-memory trade (the bits most likely
    * to flip for a near neighbor are exactly the low-margin ones, so
    * 1-bit perturbations recover most cross-bucket neighbors). Bucket
    * equi-join candidates (a corpus vector sits in ONE bucket, so no
    * per-query duplicates), exact cosine rerank, bounded top-k through
    * the TopKPairs aggregate — never a rank window. */
  def multiProbeTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      nBits: Int, k: Int): DataFrame = {
    requireIntegralId(corpus, idCol, "multiProbeTopK")
    require(nBits >= 1 && nBits <= 16,
      s"multiProbeTopK: 1 <= nBits <= 16, got $nBits")
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), hyperplaneBucket(col(vecCol), nBits).as("__bucket"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        hyperplaneBucket(col(vecCol), nBits).as("__b0"))
      .withColumn("__bucket", explode(array(
        col("__b0") +: (0 until nBits)
          .map(j => col("__b0").bitwiseXOR(lit(1L << j))): _*)))
      .drop("__b0")
    val scored = probes.join(assigned, Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
      .select("query_id", "neighbor_id", "cos")
    topKByQuery(scored, k)
  }

  /** Graph-based ANN construction: NN-Descent (Dong et al., WWW 2011,
    * public). Builds a k-NN cosine graph by iterative neighbor-of-neighbor
    * refinement — the missing ANN family next to the partition (IVF),
    * hash (LSH), and compression (PQ/SQ/BQ) tiers; the principle is "a
    * neighbor of a neighbor is likely a neighbor".
    *
    *  - init: top-k among (a) each node's `initBits` hyperplane bucket
    *    (the same portable sign-bucket arithmetic as [[hyperplaneBucket]])
    *    and (b) its neighbors on a deterministic md5-ordered ring
    *    ([[md5Ring]]) — the ring is the connectivity the classic
    *    algorithm gets from random init: bucket-only candidates leave
    *    cross-bucket components unreachable forever.
    *  - iterate: B(v) = forward ∪ reverse neighbors; candidate set =
    *    B(v) ∪ { w : u ∈ B(v), w ∈ B(u) } (one-hop expansion), dedup,
    *    exact cosine on the survivors, keep top-k per node.
    *
    * Every stage is an equi-join on node ids: per-node candidates are
    * bounded by 2k·(2k+1), so the per-iteration join and shuffle volume is
    * Θ(n·k²) — never N². Each iteration localCheckpoints so the plan
    * stays flat. Fully deterministic (candidate sets are set-valued, cos
    * is an in-order fold, ranking ties break on neighbor id), hence
    * oracle-reproducible — the classic algorithm's random sampling is
    * replaced by the deterministic bucket + md5-ring init, the same shape
    * seeded NN-Descent implementations use.
    *
    * Output: (query_id, neighbor_id, rank, cos) like [[bruteForceTopK]].
    */
  /** Successor ring in (md5(id), id) order — a deterministic stand-in for
    * a random Hamiltonian cycle: every node gets exactly one successor,
    * the cycle visits all ids, and the order is engine-reproducible (the
    * md5-string ladder every oracle-shared operator here uses).
    *
    * Computed WITHOUT a global sort: ids split into 16 md5-first-hex
    * buckets (hex lex order == bucket numeric order, so concatenating
    * buckets in bucket order IS the global (md5, id) order), `lead` runs
    * per-bucket, and the ≤16 bucket head/tail rows are stitched
    * tail(b) → head(next non-empty bucket) with a window over that
    * 16-row frame — bounded driver-free work at any corpus size.
    * Returns (id, succ); a single-id input yields succ = id (callers
    * filter self-links). */
  private def md5Ring(ids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = ids.select(col("id"), md5(col("id").cast("string")).as("mk"))
      .withColumn("rb", conv(substring(col("mk"), 1, 1), 16, 10).cast("int"))
    val w = Window.partitionBy("rb").orderBy("mk", "id")
    val within = keyed.withColumn("succ", lead(col("id"), 1).over(w))
    val heads = keyed.groupBy("rb")
      .agg(min_by(col("id"), struct(col("mk"), col("id"))).as("head"))
    // ≤16 rows: single-partition window is bounded, not a scale hazard
    val hw = Window.orderBy("rb")
    val hall = Window.orderBy("rb")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nextHeads = heads
      .withColumn("next_head",
        coalesce(lead(col("head"), 1).over(hw), first(col("head")).over(hall)))
      .select(col("rb"), col("next_head"))
    val tails = within.filter(col("succ").isNull).select("rb", "id")
    within.filter(col("succ").isNotNull).select("id", "succ")
      .unionByName(tails.join(nextHeads, "rb")
        .select(col("id"), col("next_head").as("succ")))
  }

  /** Grouped [[md5Ring]]: one successor ring PER `grp` value in a single
    * pass — every key gains the grp column and the head-stitch windows
    * partition by grp (still ≤16 rows per group). Per-group output ≡
    * [[md5Ring]] on that group's ids alone. */
  private def md5RingGrouped(ids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = ids.select(col("grp"), col("id"), md5(col("id").cast("string")).as("mk"))
      .withColumn("rb", conv(substring(col("mk"), 1, 1), 16, 10).cast("int"))
    val w = Window.partitionBy("grp", "rb").orderBy("mk", "id")
    val within = keyed.withColumn("succ", lead(col("id"), 1).over(w))
    val heads = keyed.groupBy("grp", "rb")
      .agg(min_by(col("id"), struct(col("mk"), col("id"))).as("head"))
    val hw = Window.partitionBy("grp").orderBy("rb")
    val hall = Window.partitionBy("grp").orderBy("rb")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nextHeads = heads
      .withColumn("next_head",
        coalesce(lead(col("head"), 1).over(hw), first(col("head")).over(hall)))
      .select(col("grp"), col("rb"), col("next_head"))
    val tails = within.filter(col("succ").isNull).select("grp", "rb", "id")
    within.filter(col("succ").isNotNull).select("grp", "id", "succ")
      .unionByName(tails.join(nextHeads, Seq("grp", "rb"))
        .select(col("grp"), col("id"), col("next_head").as("succ")))
  }

  /** Grouped [[nnDescent]]: INDEPENDENT NN-Descent problems keyed by a
    * `grp` column, run in one pass — every join, bucket, skew cap, ring
    * and top-k key gains grp, so each group's output is row-identical to
    * running [[nnDescent]] on that group alone (spec-pinned), while the
    * fixed per-stage Spark-job cost is paid ONCE instead of once per
    * group. Motivation (LayeredProfile, round 18): the layered insert
    * loop ran nnDescent twice per batch, and the coarse problem — 1/denom
    * of the rows — cost the SAME wall clock as the full batch (2.7 vs
    * 2.6 s at sf0.1): at batch scale nnDescent is fixed-job-cost-bound,
    * so fusing the two problems halves that fixed cost. Input
    * (grp, id, vec); output (grp, query_id, neighbor_id, rank, cos). */
  private[graft] def nnDescentGrouped(
      vectors: DataFrame,
      k: Int, iterations: Int, initBits: Int,
      maxBucket: Int = 4096): DataFrame = {
    val v = vectors.select(col("grp"), col("id"), col("vec"),
        norm(col("vec")).as("nrm"))
      .localCheckpoint()
    def scoreAndRank(pairs: DataFrame): DataFrame = {
      val scored = pairs
        .join(v.select(col("grp"), col("id").as("query_id"),
          col("vec").as("qv"), col("nrm").as("qn")), Seq("grp", "query_id"))
        .join(v.select(col("grp"), col("id").as("neighbor_id"),
          col("vec").as("cv"), col("nrm").as("cn")), Seq("grp", "neighbor_id"))
        .select(col("grp"), col("query_id"), col("neighbor_id"),
          (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      scored.groupBy("grp", "query_id")
        .agg(graft.expressions.TopKPairs.topk(
          col("neighbor_id").cast("long"), col("cos").cast("double"), k).as("tops"))
        .select(col("grp"), col("query_id"),
          posexplode(col("tops")).as(Seq("pos", "t")))
        .select(col("grp"), col("query_id"), col("t._2").as("neighbor_id"),
          (col("pos") + 1).cast("int").as("rank"), col("t._1").as("cos"))
    }
    val bucketed = v.select(col("grp"), col("id"),
      hyperplaneBucket(col("vec"), initBits).as("b"))
    val small =
      graft.operators.SkewOps.keepSmallKeys(bucketed, Seq("grp", "b"), maxBucket)
    val bucketPairs = small.select(col("grp"), col("b"), col("id").as("query_id"))
      .join(small.select(col("grp"), col("b"), col("id").as("neighbor_id")),
        Seq("grp", "b"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("grp", "query_id", "neighbor_id")
    val ring = md5RingGrouped(v.select(col("grp"), col("id")))
    val initPairs = bucketPairs
      .union(ring.select(col("grp"), col("id").as("query_id"),
        col("succ").as("neighbor_id")))
      .union(ring.select(col("grp"), col("succ").as("query_id"),
        col("id").as("neighbor_id")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .distinct()
    var nbr = scoreAndRank(initPairs).localCheckpoint()
    for (_ <- 0 until iterations) {
      val fwd = nbr.select(col("grp"), col("query_id").as("a"),
        col("neighbor_id").as("nb"))
      val gen = fwd.union(fwd.select(col("grp"), col("nb").as("a"),
        col("a").as("nb")))
      val hop = gen.join(gen.select(col("grp"), col("a").as("nb"),
          col("nb").as("c")), Seq("grp", "nb"))
        .select(col("grp"), col("a"), col("c").as("nb"))
      val cands = gen.union(hop)
        .filter(col("a") =!= col("nb"))
        .distinct()
        .select(col("grp"), col("a").as("query_id"), col("nb").as("neighbor_id"))
      nbr = scoreAndRank(cands).localCheckpoint()
    }
    nbr
  }

  def nnDescent(
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, initBits: Int,
      maxBucket: Int = 4096): DataFrame = {
    requireIntegralId(vectors, idCol, "nnDescent")
    val v = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"))
      .localCheckpoint()

    def scoreAndRank(pairs: DataFrame): DataFrame = {
      val scored = pairs
        .join(v.select(col("id").as("query_id"), col("vec").as("qv"), col("nrm").as("qn")), "query_id")
        .join(v.select(col("id").as("neighbor_id"), col("vec").as("cv"), col("nrm").as("cn")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      topKByQuery(scored, k)
    }

    val bucketed = v.select(col("id"), hyperplaneBucket(col("vec"), initBits).as("b"))
    val small = graft.operators.SkewOps.keepSmallKeys(bucketed, Seq("b"), maxBucket)
    val bucketPairs = small.select(col("b"), col("id").as("query_id"))
      .join(small.select(col("b"), col("id").as("neighbor_id")), "b")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    // Bucket-only init leaves the graph DISCONNECTED across buckets, and
    // descent can never bridge components (candidates only come from
    // existing links) — the role the classic algorithm's random init
    // plays is connectivity, restored here by a deterministic md5-ordered
    // ring (both directions) over all ids.
    val ring = md5Ring(v.select(col("id")))
    val initPairs = bucketPairs
      .union(ring.select(col("id").as("query_id"), col("succ").as("neighbor_id")))
      .union(ring.select(col("succ").as("query_id"), col("id").as("neighbor_id")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .distinct()

    var nbr = scoreAndRank(initPairs).localCheckpoint()
    for (_ <- 0 until iterations) {
      val fwd = nbr.select(col("query_id").as("a"), col("neighbor_id").as("b"))
      val gen = fwd.union(fwd.select(col("b").as("a"), col("a").as("b"))) // fwd ∪ rev
      val hop = gen.join(gen.select(col("a").as("b"), col("b").as("c")), "b")
        .select(col("a"), col("c").as("b"))
      val cands = gen.union(hop)
        .filter(col("a") =!= col("b"))
        .distinct()
        .select(col("a").as("query_id"), col("b").as("neighbor_id"))
      nbr = scoreAndRank(cands).localCheckpoint()
    }
    nbr
  }

  /** Graph-ANN retrieval: greedy beam search over a k-NN graph (the
    * search half of graph ANN — HNSW's layer-0 walk, Malkov & Yashunin
    * 2016, public; [[nnDescent]] is the build half). Queries seed from
    * `entries` md5-smallest ids (the [[ivfCentroids]] convention) and —
    * when `seedBits > 0` — additionally from up to `entries` md5-smallest
    * nodes of the query's own `seedBits` hyperplane bucket (LSH-seeded
    * graph search: greedy descent cannot escape a far-away basin, the
    * role HNSW's upper layers play; a bucket-local entry starts the walk
    * near the query, and the global entries keep empty buckets seeded).
    * Then `hops` rounds of: expand the beam's graph neighbors, score
    * exact cosine, keep the best `beam` per query. Returns the final top
    * `k` per query as (query_id, neighbor_id, rank, cos), self-matches
    * excluded.
    *
    * Scale: per hop the candidate set is ≤ beam·(graph degree+1) per
    * query — every stage an equi-join on node id + the bounded TopKPairs
    * aggregate, shuffle ∝ |queries|·beam·deg per hop, independent of
    * corpus size (the property that makes graph search the
    * lowest-latency ANN family). Previously-scored nodes are re-scored
    * rather than tracked in a visited set: a visited structure would be
    * another |queries|-keyed shuffle per hop, while re-scoring costs one
    * dot product per duplicate candidate — the cheaper side at beam·deg
    * scale. Deterministic throughout (set-valued candidates, in-order
    * cosine fold, (cos desc, id) tie-break). */
  /** Mutable distance-evaluation counter for the search probes
    * ([[graphSearch]]/[[graphSearchLayered]] `stats` parameter): when
    * present, every scored candidate row is counted with one extra
    * driver-side `count()` per beam stage — measurement only, never pass
    * from production paths. */
  final class SearchStats { var evals: Long = 0L }

  /** Shared beam-walk core: greedy beam search over `edges` from
    * per-query `seeds` (qid, node) — `hops` rounds of expand-neighbors /
    * score-exact-cosine / keep-`beam`, then the final top `k`. `q`/`v`
    * carry (qid|id, vec, nrm); see [[graphSearch]] for the contract. */
  private def topBeamOn(
      q: DataFrame, v: DataFrame, stats: Option[SearchStats])(
      cands: DataFrame, n: Int): DataFrame = {
    stats.foreach(_.evals += cands.count())
    cands
      .join(v.select(col("id").as("node"), col("vec"), col("nrm")), "node")
      .join(q, "qid")
      .filter(col("qid") =!= col("node"))
      .select(col("qid"), col("node"),
        (dot(col("qv"), col("vec")) / (col("qn") * col("nrm"))).as("cos"))
      .groupBy("qid")
      .agg(graft.expressions.TopKPairs.topk(
        col("node").cast("long"), col("cos").cast("double"), n).as("tops"))
      .select(col("qid"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("qid"), col("t._2").as("node"),
        (col("pos") + 1).cast("int").as("rank"), col("t._1").as("cos"))
  }

  private def beamWalk(
      q: DataFrame, v: DataFrame, edges: DataFrame, seeds: DataFrame,
      beam: Int, hops: Int, k: Int, stats: Option[SearchStats]): DataFrame = {
    def topBeam(cands: DataFrame, n: Int): DataFrame =
      topBeamOn(q, v, stats)(cands, n)
    // the walk keeps each round's FULL ranked output: the final top-k was
    // a whole extra topBeam over the last frontier — re-joining v and q
    // to recompute the very cosines the last round just ranked. Those
    // expressions are deterministic over the same rows, so the re-scored
    // top-k is exactly ranks 1..k of the last round's output; a filter
    // replaces one broadcast-build + join + TopKPairs pass per walk
    // (r19). The stats path keeps the old shape — its contract counts
    // distance evaluations per topBeam stage, including the final one.
    var ranked = topBeam(seeds, beam).localCheckpoint()
    for (_ <- 0 until hops) {
      val frontier = ranked.select("qid", "node")
      val expanded = frontier
        .join(edges, frontier("node") === edges("src"))
        .select(col("qid"), col("dst").as("node"))
        .union(frontier.select("qid", "node"))
        .distinct()
      ranked = topBeam(expanded, beam).localCheckpoint()
    }
    if (stats.isDefined) topBeam(ranked.select("qid", "node"), k)
    else ranked.filter(col("rank") <= k)
  }

  def graphSearch(
      queries: DataFrame, graph: DataFrame, vectors: DataFrame,
      idCol: String, vecCol: String,
      k: Int, beam: Int, hops: Int, entries: Int,
      seedBits: Int = 0, stats: Option[SearchStats] = None): DataFrame = {
    requireIntegralId(vectors, idCol, "graphSearch")
    val v = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"))
      .localCheckpoint()
    val q = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"))
      .localCheckpoint()
    val edges = graph.select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    val entryIds = v.select(col("id"), md5(col("id").cast("string")).as("mk"))
      .orderBy("mk", "id").limit(entries).select("id")

    val globalSeeds = q.select(col("qid"))
      .crossJoin(entryIds.select(col("id").as("node")))
    val seeds =
      if (seedBits <= 0) globalSeeds
      else {
        import org.apache.spark.sql.expressions.Window
        // per-bucket entry list: md5-smallest `entries` ids of each
        // bucket — a bounded window per bucket, joined to queries on the
        // query's own bucket
        val bw = Window.partitionBy("b").orderBy("mk", "id")
        val bucketEntries = v
          .select(col("id"), hyperplaneBucket(col("vec"), seedBits).as("b"),
            md5(col("id").cast("string")).as("mk"))
          .withColumn("rn", row_number().over(bw))
          .filter(col("rn") <= entries)
          .select(col("b"), col("id").as("node"))
        val qBuckets = q.select(col("qid"), hyperplaneBucket(col("qv"), seedBits).as("b"))
        globalSeeds.union(qBuckets.join(bucketEntries, "b").select("qid", "node"))
          .distinct()
      }
    beamWalk(q, v, edges, seeds, beam, hops, k, stats)
      .select(col("qid").as("query_id"), col("node").as("neighbor_id"),
        col("rank"), col("cos"))
  }

  /** Deterministic coarse-layer membership for [[graphSearchLayered]]:
    * a node is on layer 1 iff its 32-bit md5 ladder ('lvl:'-salted) is
    * ≡ 0 mod `denom` — HNSW's exponential level assignment collapsed to
    * two layers (Malkov & Yashunin 2016 §4 use p = 1/M per level; a
    * fixed 1/denom sample is the two-layer special case), md5-derived so
    * membership is engine-reproducible and append-stable (a new vector's
    * level never depends on corpus size). */
  /** The layer-1 membership predicate on an id column — exposed so the
    * incremental index can filter stored vectors to the coarse subset
    * without a join (membership is a pure function of the id, which is
    * exactly what makes it append-stable). */
  def coarseLevelPred(id: org.apache.spark.sql.Column, denom: Int): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(concat(lit("lvl:"), id.cast("string"))), 1, 8),
      16, 10).cast("long"), lit(denom.toLong)) === 0L

  def coarseLayerNodes(vectors: DataFrame, idCol: String, denom: Int): DataFrame = {
    require(denom >= 2, s"coarseLayerNodes: denom >= 2, got $denom")
    vectors.select(col(idCol).cast("long").as("id"))
      .filter(coarseLevelPred(col(idCol), denom))
  }

  /** Two-layer graph-ANN retrieval (the HNSW shape, Malkov & Yashunin
    * 2016): a greedy walk over a COARSE graph (built on the ~1/denom
    * [[coarseLayerNodes]] subset) locates each query's basin, and its
    * best `entries` coarse nodes seed the layer-0 beam search — replacing
    * [[graphSearch]]'s global + LSH-bucket seeding. Why: single-layer
    * greedy search cannot escape a far-away entry basin without either
    * many hops or per-bucket seed lists; the coarse walk covers the
    * corpus diameter in hops over a denom×-smaller graph, so layer-0
    * needs fewer hops and fewer distance evaluations for the same recall
    * (measured in AnnRecallProbe; the gain grows with corpus size since
    * layer-1 walk cost scales with |corpus|/denom).
    *
    * `graph1` must be a k-NN graph over exactly the [[coarseLayerNodes]]
    * subset (build: [[nnDescent]] on `vectors` semi-joined to the
    * subset); `graph` is the full layer-0 graph. Same determinism
    * contract as [[graphSearch]]. */
  def graphSearchLayered(
      queries: DataFrame, graph: DataFrame, graph1: DataFrame,
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, beam: Int, hops: Int, entries: Int,
      beam1: Int, hops1: Int, seedBits: Int = 0,
      stats: Option[SearchStats] = None): DataFrame = {
    requireIntegralId(vectors, idCol, "graphSearchLayered")
    val v = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"))
      .localCheckpoint()
    val q = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"))
      .localCheckpoint()
    val edges0 = graph.select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    val edges1 = graph1.select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    // layer-1 node set = the coarse graph's own nodes (src ∪ dst): the
    // walk stays on the layer by construction, no membership recompute
    val l1Nodes = edges1.select(col("src").as("id"))
      .union(edges1.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    // an empty coarse graph (denom too large for the corpus) would seed
    // NOTHING and return silently-empty results — the failure class the
    // retrieval tier refuses loudly everywhere else
    require(l1Nodes.head(1).nonEmpty,
      "graphSearchLayered: coarse graph has no nodes — denom too large " +
        "for this corpus (coarseLayerNodes selected nothing); lower denom " +
        "or fall back to graphSearch")
    val entryIds = l1Nodes
      .withColumn("mk", md5(col("id").cast("string")))
      .orderBy("mk", "id").limit(entries).select("id")
    val globalSeeds1 = q.select(col("qid"))
      .crossJoin(entryIds.select(col("id").as("node")))
    // seedBits > 0: additionally enter the coarse layer at the query's
    // own hyperplane bucket (graphSearch's LSH seeding applied to the
    // LAYER-1 subset) — basin location is then O(1) and the coarse walk
    // only refines it, which is what lets layer-0 run fewer hops
    val seeds1 =
      if (seedBits <= 0) globalSeeds1
      else {
        import org.apache.spark.sql.expressions.Window
        val bw = Window.partitionBy("b").orderBy("mk", "id")
        val bucketEntries = v.join(l1Nodes, "id")
          .select(col("id"), hyperplaneBucket(col("vec"), seedBits).as("b"),
            md5(col("id").cast("string")).as("mk"))
          .withColumn("rn", row_number().over(bw))
          .filter(col("rn") <= entries)
          .select(col("b"), col("id").as("node"))
        val qBuckets = q.select(col("qid"), hyperplaneBucket(col("qv"), seedBits).as("b"))
        globalSeeds1.union(qBuckets.join(bucketEntries, "b").select("qid", "node"))
          .distinct()
      }
    // coarse walk: best `entries` layer-1 nodes per query become the
    // layer-0 entry points
    val coarseBest = beamWalk(q, v, edges1, seeds1, beam1, hops1, entries, stats)
      .select("qid", "node")
    beamWalk(q, v, edges0, coarseBest, beam, hops, k, stats)
      .select(col("qid").as("query_id"), col("node").as("neighbor_id"),
        col("rank"), col("cos"))
  }

  /** Deterministic full-batch linear-probe training (squared loss, fixed
    * iterations): w ← w − lr·∇, ∇_j = (1/n)·Σ_i err_i·x_ij with
    * err_i = w·x̃_i − y_i over the bias-augmented vector x̃ = x ++ [1],
    * y = (label == positiveLabel). This closes the "synthetic weights"
    * gap in the classifier-filter plumbing ([[graft.functions
    * .TextAnalysis.linearScore]]): the probe TRAINS on a labeled corpus
    * and its weights drop straight into score-and-filter.
    *
    * Why squared loss and not logistic: no exp/sigmoid means no libm in
    * the model — every step is add/multiply, so training is bit-exact
    * cross-engine (for a separable filter threshold the linear probe is
    * the standard cheap probe; public practice, e.g. linear probing of
    * representations, Alain & Bengio 2016).
    *
    * Determinism at any partitioning: per-row err is the in-order double
    * fold ([[dotHof]], ≡ DuckDB list_dot_product); per-(row, dim)
    * gradient contributions quantize to floor(err·x·2²⁴ + 0.5) LONGs
    * summed through DECIMAL (order-free exact integers — the q92 Lloyd
    * trick); lr = 2^−lrShift is dyadic so the update arithmetic is
    * exact-by-rounding identical everywhere.
    *
    * Scale: one full corpus pass per iteration (map-side combined
    * aggregate of dim+1 longs), driver state = dim+1 doubles —
    * iterations are small constants, so the shape is iterations ×
    * O(corpus/cluster) with no shuffle growth. */
  def linearProbeTrain(
      vectors: DataFrame, vecCol: String, labelCol: String,
      positiveLabel: Long, iterations: Int, lrShift: Int, dim: Int): Seq[Double] = {
    require(iterations >= 1, s"linearProbeTrain: iterations >= 1, got $iterations")
    require(lrShift >= 0 && lrShift <= 62, s"linearProbeTrain: bad lrShift $lrShift")
    val lr = 1.0 / (1L << lrShift).toDouble
    val base = vectors.select(
        concat(col(vecCol), array(lit(1.0f))).as("xa"),
        when(col(labelCol).cast("long") === positiveLabel, 1.0d)
          .otherwise(0.0d).as("y"))
      .localCheckpoint() // scanned once per iteration
    val n = base.count()
    require(n > 0, "linearProbeTrain: empty corpus")
    var w = Array.fill(dim + 1)(0.0)
    for (_ <- 0 until iterations) {
      val wCol = array(w.toIndexedSeq.map(lit): _*)
      val err = dotHof(col("xa"), wCol) - col("y")
      val grads = base
        .select(err.as("err"), posexplode(col("xa")).as(Seq("j", "x")))
        .select(col("j"),
          floor(col("err") * col("x").cast("double") * lit(16777216.0) + lit(0.5))
            .cast("long").as("q"))
        .groupBy("j")
        .agg(sum(col("q").cast("decimal(38,0)")).as("sq"))
        .collect().map(r => r.getInt(0) ->
          // a null sum means every contribution was null (null vector
          // elements upstream): treat as zero gradient rather than NPE
          Option(r.getDecimal(1)).map(_.doubleValue()).getOrElse(0.0)).toMap
      w = w.indices.map { j =>
        w(j) - lr * (grads.getOrElse(j, 0.0) / 16777216.0 / n)
      }.toArray
    }
    w.toIndexedSeq
  }

  /** Incremental graph-ANN index — the HNSW insert loop, batch-
    * formulated (Malkov & Yashunin 2016 §4 alg. 1, public): a PERSISTED
    * k-NN graph grows by batches. Per batch: (1) every new vector beam-
    * searches the EXISTING stored graph for its top-k neighbors (one
    * [[graphSearch]] over the batch as the query set — |batch| queries,
    * never a corpus rebuild), (2) the batch's INTERNAL k-NN edges come
    * from [[nnDescent]] on the batch alone, (3) new→old, old→new (the
    * bidirectional HNSW link), and batch-internal edges append to the
    * edge store (id-range partitioned by source node, so appends land
    * in the new ids' partitions; reverse links upsert into the touched
    * neighbors' partitions only), and vectors append to the vector
    * store. The first batch bootstraps with nnDescent alone.
    *
    * Unlike the IVF/PQ incremental indexes there is NO oracle-exact
    * equivalence to a fresh build — graph construction is insertion-
    * order-dependent by nature (HNSW's too); the contract is RECALL,
    * spec-measured: incremental search recall on the clustered fixture
    * within a few points of the fresh-built graph's. Old nodes' degrees
    * grow as reverse links accrue (HNSW prunes to M; here search cost
    * per hop scales with degree, so run occasional compaction by
    * rebuilding hot nodes' edge lists — documented trade, not hidden).
    *
    * Stores: edges keyed (entity_id = src, dst); vectors keyed
    * (entity_id). Search the accumulated index with [[graphSearch]]
    * over `readGraphIndex`. */
  def graphInsertBatch(
      edgeStore: graft.storage.PartStore, vecStore: graft.storage.PartStore,
      part: String, batch: DataFrame, idCol: String, vecCol: String,
      k: Int, beam: Int, hops: Int, entries: Int, seedBits: Int): Unit = {
    require(edgeStore.config.keyCols == Seq("entity_id", "dst"),
      "graphInsertBatch: edge store must be keyed (entity_id, dst)")
    require(vecStore.config.keyCols == Seq("entity_id"),
      "graphInsertBatch: vector store must be keyed (entity_id)")
    requireIntegralId(batch, idCol, "graphInsertBatch")
    val b = batch.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .localCheckpoint()
    // the PERSISTED seed registry as of the previous batch (verdict r14
    // #5): per-bucket md5-top-`entries` nodes of the accumulated corpus.
    // Because md5-top-k per bucket is an ORDER-INSENSITIVE monoid fold,
    // the incrementally-maintained registry equals the full-corpus
    // per-bucket window graphSearch would compute — bit-identically (the
    // q194 oracle replay is unchanged) — while the per-batch seed cost
    // drops from a full-corpus sort to |batch| + |registry|.
    val seedsPart = part + "__seeds"
    val prevReg = vecStore.readPart(seedsPart)
      .map(_.select(col("entity_id").as("node"), col("b"), col("mk"))
        .localCheckpoint())
      .filter(_.head(1).nonEmpty)
    val edges = batchEdges(b,
      (edgeStore.readPart(part), vecStore.readPart(part)) match {
        case (Some(e0), Some(v0)) => Some((e0, v0))
        case _ => None
      }, k, beam, hops, entries, seedBits, seedRegistry = prevReg)
    edgeStore.store(part, edges.select(
      col("src").as("entity_id"), col("src").as("timestamp"),
      col("dst"), lit(1L).as("modified")))
    vecStore.store(part, b.select(
      col("id").as("entity_id"), col("id").as("timestamp"),
      col("vec"), lit(1L).as("modified")))
    updateSeedRegistry(vecStore, seedsPart, prevReg, b, entries, seedBits)
  }

  /** Fold one insert batch into the persisted seed registry: per-bucket
    * md5-top-`entries` (bucket −1 when seedBits == 0, so the global
    * entry set still derives). Two-stage fold keeps every window keyed
    * AND bounded: first prune WITHIN the batch (partitions ≤ the batch's
    * per-bucket counts), then merge with the tiny previous registry
    * (≤ 2^seedBits · entries rows) and re-prune — equal to the one-shot
    * fold by the monoid property. The registry part is REPLACED through
    * rewritePart's staged whole-dir swap (crash-safe; a pruned-out node
    * must not linger, or the bound — and the full-corpus-window
    * equivalence — breaks). */
  private def updateSeedRegistry(
      vecStore: graft.storage.PartStore, seedsPart: String,
      prevReg: Option[DataFrame], b: DataFrame,
      entries: Int, seedBits: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val bucket =
      if (seedBits > 0) hyperplaneBucket(col("vec"), seedBits) else lit(-1L)
    def prune(df: DataFrame): DataFrame = {
      val bw = Window.partitionBy("b").orderBy("mk", "node")
      df.withColumn("rn", row_number().over(bw))
        .filter(col("rn") <= entries).drop("rn")
    }
    val cand = prune(b.select(col("id").as("node"), bucket.as("b"),
      md5(col("id").cast("string")).as("mk")).dropDuplicates("node"))
    // dedup by node before the re-prune: a REPLAYED batch's nodes are
    // already in the registry, and a duplicate row would displace a
    // distinct node from the top-`entries` (node determines b and mk,
    // so dropping by node loses nothing)
    val merged = prune(prevReg.map(_.unionByName(cand)).getOrElse(cand)
      .dropDuplicates("node"))
    val psize = vecStore.config.partitionSizeSeconds
    val rows = merged.select(col("node").as("entity_id"),
        col("node").as("timestamp"), col("b"), col("mk"),
        lit(1L).as("modified"))
    if (vecStore.exists(seedsPart))
      vecStore.rewritePart(seedsPart, _ => rows.withColumn("pindex",
        ((col("timestamp") - pmod(col("timestamp"), lit(psize))) / psize)
          .cast("long")))
    else vecStore.store(seedsPart, rows)
    ()
  }

  /** One insert batch's new edge set — the shared core of the flat and
    * layered insert loops: the batch's internal k-NN edges (nnDescent on
    * the batch alone) plus, when an existing (edges, vectors) store
    * state is given, the bidirectional cross links found by beam-
    * searching it. `b` is (id, vec); `old` carries the store's
    * (entity_id, dst) edge rows and (entity_id, vec) vector rows.
    *
    * `oldCoarse` (the stored coarse graph as of the PREVIOUS batch, when
    * the index is layered) switches the cross search to the true HNSW
    * descent: a walk over the 1/denom coarse graph locates each new
    * vector's basin and its best coarse nodes seed the layer-0 beam —
    * replacing [[graphSearch]]'s global + LSH-bucket seeding, whose
    * per-bucket row_number window recomputes over the FULL accumulated
    * corpus on every batch. With the descent, the only per-batch work
    * that touches the whole corpus is the hash-join build sides; the
    * seed computation scales with |corpus|/denom. */
  private def batchEdges(
      b: DataFrame, old: Option[(DataFrame, DataFrame)],
      k: Int, beam: Int, hops: Int, entries: Int, seedBits: Int,
      oldCoarse: Option[DataFrame] = None,
      seedRegistry: Option[DataFrame] = None,
      internalPre: Option[DataFrame] = None): DataFrame = {
    // `internalPre` lets the layered insert hand in batch-internal edges
    // computed by ONE grouped nnDescent pass shared across layers
    // (identical rows to the call below — nnDescentGrouped's contract)
    val internal = internalPre.getOrElse(
      nnDescent(b, "id", "vec", k, iterations = 1, initBits = seedBits)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst")))
    val cross = old match {
      case Some((edges0, vecs0)) =>
        val g = edges0.select(col("entity_id").as("query_id"), col("dst").as("neighbor_id"))
        val vOld = vecs0.select(col("entity_id").as("id"), col("vec"))
        val searched = oldCoarse match {
          case Some(g1raw) =>
            val q = b.select(col("id").as("qid"), col("vec").as("qv"),
                norm(col("vec")).as("qn")).localCheckpoint()
            val v = vOld.select(col("id"), col("vec"), norm(col("vec")).as("nrm"))
              .localCheckpoint()
            val edges0 = g.select(col("query_id").as("src"),
              col("neighbor_id").as("dst")).localCheckpoint()
            val edges1 = g1raw.select(col("entity_id").as("src"), col("dst"))
            // minimal coarse locate (2 scored rounds, all coarse-side):
            // md5-global + LSH-bucket seeds over the COARSE node set,
            // keep top-`entries`, one neighbor expansion, re-keep — the
            // located nodes seed the layer-0 walk directly. Basin
            // REFINEMENT is the layer-0 walk's job; a full-beam coarse
            // walk would nearly double the per-batch round count.
            val l1Nodes = edges1.select(col("src").as("id"))
              .union(edges1.select(col("dst").as("id"))).distinct()
            val entryIds = l1Nodes
              .withColumn("mk", md5(col("id").cast("string")))
              .orderBy("mk", "id").limit(entries).select("id")
            val globalSeeds = q.select(col("qid"))
              .crossJoin(entryIds.select(col("id").as("node")))
            val seeds =
              if (seedBits <= 0) globalSeeds
              else {
                import org.apache.spark.sql.expressions.Window
                val bw = Window.partitionBy("b").orderBy("mk", "id")
                val bucketEntries = v.join(l1Nodes, "id")
                  .select(col("id"), hyperplaneBucket(col("vec"), seedBits).as("b"),
                    md5(col("id").cast("string")).as("mk"))
                  .withColumn("rn", row_number().over(bw))
                  .filter(col("rn") <= entries)
                  .select(col("b"), col("id").as("node"))
                val qBuckets = q.select(col("qid"),
                  hyperplaneBucket(col("qv"), seedBits).as("b"))
                globalSeeds.union(qBuckets.join(bucketEntries, "b")
                  .select("qid", "node")).distinct()
              }
            val r0 = topBeamOn(q, v, None)(seeds, entries)
              .select("qid", "node").localCheckpoint()
            val expanded = r0.join(edges1, r0("node") === edges1("src"))
              .select(col("qid"), col("dst").as("node"))
              .union(r0.select("qid", "node")).distinct()
            val located = topBeamOn(q, v, None)(expanded, entries)
              .select("qid", "node")
            beamWalk(q, v, edges0, located, beam, hops, k, None)
              .select(col("qid").as("query_id"), col("node").as("neighbor_id"),
                col("rank"), col("cos"))
          case None => seedRegistry match {
            case Some(reg) =>
              // flat incremental path: seeds come from the persisted
              // registry (previous-batch state), NEVER a window over the
              // accumulated corpus. The registry is ≤ 2^seedBits·entries
              // rows, so the global-entry sort below is bounded; it
              // equals graphSearch's full-corpus md5-top because a
              // global top-k is a subset of the per-bucket top-ks.
              val q = b.select(col("id").as("qid"), col("vec").as("qv"),
                norm(col("vec")).as("qn")).localCheckpoint()
              val v = vOld.select(col("id"), col("vec"),
                norm(col("vec")).as("nrm"))
              val edgesF = g.select(col("query_id").as("src"),
                col("neighbor_id").as("dst"))
              val entryIds = reg.orderBy("mk", "node").limit(entries)
                .select("node")
              val globalSeeds = q.select(col("qid")).crossJoin(entryIds)
              val seeds =
                if (seedBits <= 0) globalSeeds
                else {
                  val qBuckets = q.select(col("qid"),
                    hyperplaneBucket(col("qv"), seedBits).as("b"))
                  globalSeeds.union(qBuckets
                    .join(reg.select(col("b"), col("node")), "b")
                    .select("qid", "node")).distinct()
                }
              beamWalk(q, v, edgesF, seeds, beam, hops, k, None)
                .select(col("qid").as("query_id"),
                  col("node").as("neighbor_id"), col("rank"), col("cos"))
            case None =>
              graphSearch(b, g, vOld, "id", "vec",
                k, beam, hops, entries, seedBits)
          }
        }
        val found = searched
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
          .localCheckpoint()
        found.unionByName(found.select(col("dst").as("src"), col("src").as("dst")))
      case None => b.limit(0).select(col("id").as("src"), col("id").as("dst"))
    }
    internal.unionByName(cross).distinct()
  }

  /** Layered incremental graph index — [[graphInsertBatch]] plus an
    * incrementally-maintained COARSE graph over the [[coarseLayerNodes]]
    * 1/denom subset, so the accumulated store can serve
    * [[graphSearchLayered]] (round-12's stored index could only feed the
    * flat [[graphSearch]]). The coarse layer runs the SAME insert loop —
    * batch-internal nnDescent + beam-searched bidirectional cross links —
    * restricted to the batch's coarse members against the stored coarse
    * graph and the stored vectors' coarse subset (a FILTER, not a join:
    * membership is a pure md5 function of the id, append-stable by
    * construction), ~1/denom of the flat layer's work. Coarse edges land
    * in `part + "__l1"` of the same edge store; vectors are stored once.
    *
    * Ordering contract: the coarse edge set is computed and stored
    * BEFORE the flat insert runs, so both layers link against the store
    * state as of the previous batch (lazy re-reads after the flat
    * insert's partition swap would otherwise see this batch's own
    * vectors). Search the accumulated index with [[graphSearchLayered]]
    * over [[readGraphIndexLayered]]. */
  def graphInsertBatchLayered(
      edgeStore: graft.storage.PartStore, vecStore: graft.storage.PartStore,
      part: String, batch: DataFrame, idCol: String, vecCol: String,
      k: Int, beam: Int, hops: Int, entries: Int, seedBits: Int,
      denom: Int): Unit = {
    require(denom >= 2, s"graphInsertBatchLayered: denom >= 2, got $denom")
    require(edgeStore.config.keyCols == Seq("entity_id", "dst"),
      "graphInsertBatchLayered: edge store must be keyed (entity_id, dst)")
    require(vecStore.config.keyCols == Seq("entity_id"),
      "graphInsertBatchLayered: vector store must be keyed (entity_id)")
    requireIntegralId(batch, idCol, "graphInsertBatchLayered")
    val b = batch.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .localCheckpoint()
    val bC = b.filter(coarseLevelPred(col("id"), denom)).localCheckpoint()
    // BOTH layers' batch-internal k-NN edges from ONE grouped nnDescent
    // pass (grp 0 = flat batch, grp 1 = coarse members): per-layer rows
    // are identical to two separate nnDescent calls — the r18 profile
    // showed the coarse call's cost was pure fixed job overhead (2.7 s
    // for 1/16 of the rows vs 2.6 s for all of them at sf0.1), so the
    // fusion halves the per-batch nnDescent wall clock for free
    val internals = nnDescentGrouped(
      b.select(lit(0L).as("grp"), col("id"), col("vec"))
        .unionByName(bC.select(lit(1L).as("grp"), col("id"), col("vec"))),
      k, iterations = 1, initBits = seedBits).localCheckpoint()
    def internalOf(g: Long): DataFrame = internals.filter(col("grp") === g)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    // the previous batch's coarse graph, MATERIALIZED before the coarse
    // store swap below replaces its files: it both links the coarse
    // insert and — the HNSW descent — seeds the flat insert's layer-0
    // search, so every per-batch search runs against the store state as
    // of the previous batch. |coarse edges| = |corpus|/denom × k.
    // an EMPTY coarse part (a first batch with a single coarse member
    // stores zero edges) must fall back to flat seeding — a descent from
    // zero coarse nodes would find no entry points and silently drop
    // every cross link
    val prevCoarse = edgeStore.readPart(part + "__l1")
      .map(_.localCheckpoint()).filter(_.head(1).nonEmpty)
    if (bC.head(1).nonEmpty) {
      val oldCoarse = (prevCoarse, vecStore.readPart(part)) match {
        case (Some(e1), Some(v0)) =>
          Some((e1, v0.filter(coarseLevelPred(col("entity_id"), denom))))
        case _ => None
      }
      val coarseEdges = batchEdges(bC, oldCoarse,
        k, beam, hops, entries, seedBits,
        internalPre = Some(internalOf(1L))).localCheckpoint()
      edgeStore.store(part + "__l1", coarseEdges.select(
        col("src").as("entity_id"), col("src").as("timestamp"),
        col("dst"), lit(1L).as("modified")))
    }
    // flat insert, coarse-descent-seeded (verdict r13 #2): the layer-0
    // cross search enters through prevCoarse instead of re-windowing the
    // full corpus for LSH-bucket seeds on every batch
    val edges = batchEdges(b,
      (edgeStore.readPart(part), vecStore.readPart(part)) match {
        case (Some(e0), Some(v0)) => Some((e0, v0))
        case _ => None
      }, k, beam, hops, entries, seedBits, oldCoarse = prevCoarse,
      internalPre = Some(internalOf(0L)))
    edgeStore.store(part, edges.select(
      col("src").as("entity_id"), col("src").as("timestamp"),
      col("dst"), lit(1L).as("modified")))
    vecStore.store(part, b.select(
      col("id").as("entity_id"), col("id").as("timestamp"),
      col("vec"), lit(1L).as("modified")))
    ()
  }

  /** The accumulated (layer-0 graph, coarse graph, vectors) view of a
    * [[graphInsertBatchLayered]] index, in the shapes
    * [[graphSearchLayered]] consumes. */
  def readGraphIndexLayered(
      edgeStore: graft.storage.PartStore, vecStore: graft.storage.PartStore,
      part: String): (DataFrame, DataFrame, DataFrame) = {
    val (g0, v) = readGraphIndex(edgeStore, vecStore, part)
    val g1 = edgeStore.readPart(part + "__l1").getOrElse(
        throw new IllegalArgumentException(
          s"readGraphIndexLayered: no coarse edge part '${part}__l1' — " +
            "was the index built with graphInsertBatchLayered?"))
      .select(col("entity_id").as("query_id"), col("dst").as("neighbor_id"))
    (g0, g1, v)
  }

  /** Degree compaction for the incremental graph store — the HNSW
    * M-prune applied in bulk (Malkov & Yashunin 2016 §4 keep the best M
    * links per node; the insert loop here documents that reverse-link
    * accrual grows hot nodes' degree and search cost per hop scales
    * with degree). Every node's out-edges are pruned to its top `k` by
    * exact cosine, (cos DESC, dst) tie-break, computed INSIDE the store
    * rewrite so kept rows preserve their partition assignment (pruning
    * only deletes rows). Cost: one scored pass over the edge set + the
    * staged partition-swap rewrite — O(|edges|), run occasionally after
    * many insert batches, exactly like any LSM-style maintenance. The
    * per-node ranking is a KEYED window bounded by that node's degree —
    * the quantity compaction exists to bound. Deterministic, so the
    * q239 oracle replays insert schedule + prune + search end-to-end.
    * Returns the number of partitions rewritten. */
  def graphCompact(
      edgeStore: graft.storage.PartStore, vecStore: graft.storage.PartStore,
      part: String, k: Int): Int = {
    require(k >= 1, s"graphCompact: k >= 1, got $k")
    val vecs = vecStore.readPart(part).getOrElse(
        throw new graft.core.NoSuchPartException(s"graphCompact: no vector part '$part'"))
      .select(col("entity_id").as("__vid"), col("vec"), norm(col("vec")).as("__nrm"))
      .localCheckpoint()
    import org.apache.spark.sql.expressions.Window
    edgeStore.rewritePart(part, { edges =>
      val w = Window.partitionBy("entity_id")
        .orderBy(col("__cos").desc, col("dst"))
      edges
        .join(vecs.select(col("__vid"), col("vec").as("__sv"),
          col("__nrm").as("__sn")), col("entity_id") === col("__vid"))
        .drop("__vid")
        .join(vecs.select(col("__vid"), col("vec").as("__dv"),
          col("__nrm").as("__dn")), col("dst") === col("__vid"))
        .withColumn("__cos", dot(col("__sv"), col("__dv")) / (col("__sn") * col("__dn")))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= k)
        .drop("__vid", "__sv", "__sn", "__dv", "__dn", "__cos", "__rk")
    })
  }

  /** The accumulated (graph, vectors) view of a [[graphInsertBatch]]
    * index, in the shapes [[graphSearch]] consumes. */
  def readGraphIndex(
      edgeStore: graft.storage.PartStore, vecStore: graft.storage.PartStore,
      part: String): (DataFrame, DataFrame) = {
    val g = edgeStore.readPart(part).getOrElse(
        throw new graft.core.NoSuchPartException(s"readGraphIndex: no edge part '$part'"))
      .select(col("entity_id").as("query_id"), col("dst").as("neighbor_id"))
    val v = vecStore.readPart(part).getOrElse(
        throw new graft.core.NoSuchPartException(s"readGraphIndex: no vector part '$part'"))
      .select(col("entity_id"), col("vec"))
    (g, v)
  }

  /** IVF-style centroid selection: the k corpus vectors with the smallest
    * md5(id) — a deterministic, engine-reproducible pseudo-random sample
    * (real IVF would k-means these; the assignment/bucketing machinery is
    * identical). k rows collected to the driver: IVF codebooks are tiny by
    * design, this is the one legitimate collect in the ANN path. */
  def ivfCentroids(
      vectors: DataFrame, idCol: String, vecCol: String, k: Int): Seq[(Int, Seq[Float])] =
    vectors.select(col(idCol).cast("string").as("__id"), col(vecCol))
      .orderBy(md5(col("__id")), col("__id"))
      .limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](1).toSeq }.toSeq

  /** Deterministic md5-ordered training sample for codebook construction:
    * the first `n` corpus vectors by (md5(id), id). Codebooks train on a
    * bounded sample at ANY corpus size — this is the one driver-side
    * collect in the ANN path, and it is capped by `n`, not the corpus. */
  private def codebookSample(
      vectors: DataFrame, idCol: String, vecCol: String, n: Int)
      : Seq[(String, Seq[Float])] =
    vectors.select(col(idCol).cast("string").as("__id"), col(vecCol))
      .orderBy(md5(col("__id")), col("__id"))
      .limit(n).collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toSeq)).toSeq

  /** One Lloyd refinement pass (pure, driver-side, bit-deterministic):
    * assign every sample vector to its nearest seed with the SAME
    * double-cosine / higher-index tie-break arithmetic as [[ivfBucket]],
    * then replace each centroid by the per-dimension mean of its members,
    * summed in id order — a sequential fold both engines reproduce (the
    * DuckDB oracle mirrors it with list_reduce over an id-ordered list),
    * rounded through Float so a refined codebook ships exactly like a
    * sampled one. Empty cells keep their seed. One pass moves centroids
    * to cell centers of mass — most of k-means' recall gain for a fixed,
    * reproducible cost (Lloyd 1982, public). */
  private def driverDot(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Driver-side nearest-centroid assignment with [[ivfBucket]]'s exact
    * arithmetic (double cosine, higher-index tie-break, NaN-greatest) —
    * the function [[lloydOnce]] assigns with, reused by the residual
    * codebook trainer so sample residuals subtract the SAME cell the
    * distributed encoder would pick. */
  private[functions] def driverAssign(
      seeds: Seq[(Int, Seq[Float])]): Seq[Float] => Int = {
    val seedNorm = seeds.map { case (i, c) => i -> math.sqrt(driverDot(c, c)) }.toMap
    (v: Seq[Float]) => {
      val nv = math.sqrt(driverDot(v, v))
      var best = -1
      var bestCos = Double.NegativeInfinity
      seeds.foreach { case (i, c) =>
        val cos = driverDot(v, c) / (nv * seedNorm(i))
        // ascending i + compare≥0 = array_max's lexicographic (cos, i):
        // ties (and NaN-greatest) resolve to the larger index
        if (best < 0 || java.lang.Double.compare(cos, bestCos) >= 0) {
          best = i; bestCos = cos
        }
      }
      best
    }
  }

  private[functions] def lloydOnce(
      sample: Seq[(String, Seq[Float])],
      seeds: Seq[(Int, Seq[Float])]): Seq[(Int, Seq[Float])] = {
    val assign = driverAssign(seeds)
    val members = sample.groupBy(s => assign(s._2))
    seeds.map { case (i, seedVec) =>
      members.get(i) match {
        case None => i -> seedVec
        case Some(ms) =>
          val sorted = ms.sortBy(_._1)
          val dim = seedVec.length
          val sums = new Array[Double](dim)
          sorted.foreach { case (_, v) =>
            var d = 0
            while (d < dim) { sums(d) += v(d).toDouble; d += 1 }
          }
          i -> sums.map(s => (s / ms.length).toFloat).toSeq
      }
    }
  }

  /** [[ivfCentroids]] + one Lloyd pass over a deterministic sample:
    * sampled seeds move to their cells' centers of mass, materially
    * tightening IVF cell boundaries (higher recall at the same probe
    * count) while staying engine-reproducible. */
  def ivfCentroidsRefined(
      vectors: DataFrame, idCol: String, vecCol: String, k: Int,
      sampleN: Int = 2048): Seq[(Int, Seq[Float])] = {
    val sample = codebookSample(vectors, idCol, vecCol, math.max(k, sampleN))
    lloydOnce(sample,
      sample.take(k).map(_._2).zipWithIndex.map { case (v, i) => i -> v })
  }

  /** IVF hot-cell split — index maintenance for the skewed-cell problem:
    * at real scale some cells accrue far more vectors than others
    * (duplicated content, dense topics), and a probe that lands in a hot
    * cell scans it all — nProbe budgeting is defeated by one whale. The
    * standard maintenance (FAISS re-trains; ScaNN/SPANN re-partition hot
    * leaves) re-expressed deterministically: every cell with more than
    * `cap` members splits in two around its two md5-minimal member
    * vectors (higher-cos wins, ties to subcell 1 — the q92 tiebreak
    * shape), subcell 0 keeps the old id, subcell 1 takes
    * maxBucket + denseRank(hot cell).
    *
    * Scale shape: hot-cell detection is one grouped count (≤ |cells|
    * rows); seed selection is two min_by aggregate passes (NO per-cell
    * window — a hot cell is precisely the thing one task must not
    * sort); re-assignment touches ONLY hot cells' members. Everything is
    * float-dot arithmetic both engines replay exactly.
    * Output: (id, bucket_old, bucket_new) for EVERY input row (cold
    * cells pass through unchanged) — feed it to the stored index's
    * upsert to physically move subcell-1 rows. */
  def ivfCellSplit(
      assigned: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"ivfCellSplit: cap >= 1, got $cap")
    requireIntegralId(assigned, idCol, "ivfCellSplit")
    val a = assigned.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"), col(bucketCol).cast("long").as("b"))
      .localCheckpoint()
    val counts = a.groupBy("b").agg(count(lit(1)).as("__n"))
    val hot = counts.filter(col("__n") > cap).select("b")
    val hotRank = graft.functions.Ranks.globalDenseRank(hot, Seq("b"))
      .select(col("b"), col("__r").as("__hr"))
    // bounded driver read: one MAX over the (≤ |cells|-row) count frame
    val maxB = counts.agg(max(col("b"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val hm = a.join(broadcast(hot), Seq("b"))
      .withColumn("__mk", md5(col("id").cast("string")))
    // two md5-minimal members per hot cell, via min_by aggregates — the
    // second pass excludes the first winner
    val s1 = hm.groupBy("b")
      .agg(expr("min_by(struct(id, vec), struct(__mk, id))").as("__s"))
      .select(col("b"), col("__s.id").as("__sid1"), col("__s.vec").as("__v1"))
    val s2 = hm.join(broadcast(s1.select("b", "__sid1")), Seq("b"))
      .filter(col("id") =!= col("__sid1"))
      .groupBy("b")
      .agg(expr("min_by(struct(id, vec), struct(__mk, id))").as("__s"))
      .select(col("b"), col("__s.vec").as("__v2"))
    val sub = hm
      .join(broadcast(s1), Seq("b")).join(broadcast(s2), Seq("b"))
      .select(col("b"), col("id"),
        (dot(col("vec"), col("__v2")) / (norm(col("vec")) * norm(col("__v2"))) >=
          dot(col("vec"), col("__v1")) / (norm(col("vec")) * norm(col("__v1"))))
          .cast("long").as("__sub"))
    a.select(col("id"), col("b").as("bucket_old"))
      .join(sub.select(col("id"), col("__sub")), Seq("id"), "left")
      .join(broadcast(hotRank),
        col("bucket_old") === col("b"), "left")
      .select(col("id"), col("bucket_old"),
        when(col("__sub") === 1L, lit(maxB) + col("__hr"))
          .otherwise(col("bucket_old")).as("bucket_new"))
  }

  /** Apply [[ivfCellSplit]] to a BY-BUCKET stored index: upsert the hot
    * cells' rows under their new bucket (timestamp = bucket, so the
    * staged swap physically MOVES subcell-1 rows into the new cell's
    * partition directory — only hot cells' partitions rewrite), and
    * return the post-split centroid list: unsplit cells keep their
    * centroid, each subcell gets the fixed-point mean of its members
    * (the q92 arithmetic — floor(x·2²⁴+0.5) BIGINT sums rounded through
    * Float — so the oracle replays the new codebook bit-for-bit).
    *
    * Store contract: partitionSizeSeconds = 1, keyCols = (entity_id) —
    * the upsert must REPLACE a moved row under its id, not add a second
    * row under a new (id, timestamp) key. Degenerate-tie guard: the
    * subcell-0 anchor (the first md5-minimal member) stays put unless
    * its vector is parallel to the second seed, so every split cell's
    * old partition is in the upsert's touched set; an all-moved cell
    * (duplicate vectors) is refused loudly rather than leaving stale
    * rows behind. */
  def applyCellSplitStored(
      ps: graft.storage.PartStore, part: String,
      centroids: Seq[(Int, Seq[Float])], cap: Int,
      modified: Long = 2L, scaleBits: Int = 24): Seq[(Int, Seq[Float])] = {
    require(ps.config.partitionSizeSeconds == 1L &&
        ps.config.keyCols == Seq("entity_id"),
      "applyCellSplitStored: store must be by-bucket " +
        "(partitionSizeSeconds = 1) and keyed (entity_id)")
    val stored = ps.readPart(part).getOrElse(throw new IllegalArgumentException(
      s"applyCellSplitStored: no stored index part '$part'"))
    val split = ivfCellSplit(stored.select(col("entity_id"),
        col("embedding"), col("bucket")),
      "entity_id", "embedding", "bucket", cap).localCheckpoint()
    val hot = split.filter(col("bucket_new") =!= col("bucket_old"))
      .select("bucket_old").distinct()
      .collect().map(_.getLong(0)).toSet // bounded: ≤ |cells|
    if (hot.isEmpty) return centroids
    val stayed = split
      .filter(col("bucket_old").isin(hot.toSeq: _*) &&
        col("bucket_new") === col("bucket_old"))
      .select("bucket_old").distinct()
      .collect().map(_.getLong(0)).toSet
    require(hot.subsetOf(stayed),
      s"applyCellSplitStored: cells ${(hot -- stayed).toSeq.sorted} moved " +
        "EVERY member (duplicate vectors tie toward subcell 1) — the old " +
        "partition would keep stale rows; dedup the corpus or raise cap")
    // rows of hot cells, re-stamped with their final bucket —
    // MATERIALIZED before the store: the swap below replaces the files
    // this frame lazily reads, and the means after it reuse it
    val rewrite = stored.drop("bucket")
      .join(split.filter(col("bucket_old").isin(hot.toSeq: _*))
        .select(col("id").as("entity_id"), col("bucket_new")), Seq("entity_id"))
      .select(col("entity_id"), col("bucket_new").as("timestamp"),
        col("embedding"), col("bucket_new").cast("int").as("bucket"),
        lit(modified).as("modified"))
      .localCheckpoint()
    ps.store(part, rewrite)
    // post-split codebook: fixed-point subcell means (bounded collect —
    // ≤ 2·|hot| · dim rows), Float-rounded exactly like lloydOnce
    val scale = (1L << scaleBits).toDouble
    val meanRows = rewrite.select(col("bucket").cast("long").as("fb"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("fb", "dim")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * scale + 0.5).cast("long")).as("q"))
      .select(col("fb"), col("dim"),
        (col("q").cast("double") / col("n") / scale).as("mean"))
      .collect()
    val subCents = meanRows.groupBy(_.getLong(0)).map { case (fb, rows) =>
      fb.toInt -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
    }
    (centroids.filterNot { case (i, _) => hot.contains(i.toLong) } ++
      subCents.toSeq).sortBy(_._1)
  }

  /** Distributed per-cell means for a Lloyd refinement pass over the FULL
    * corpus — the scale rung above the bounded driver-side [[lloydOnce]]
    * (whose 2048-vector sample caps codebook quality at large k).
    *
    * The obstacle to distributing Lloyd deterministically is float
    * summation order: a plain per-cell `sum(x)` depends on partition
    * layout. Here each element is quantized to a 2^`scaleBits` fixed-point
    * LONG (`floor(x·2^s + 0.5)` — floor is engine-identical, unlike
    * round's half-up/half-even split); integer sums are associative, so
    * the result is bit-identical under ANY partitioning and on any engine
    * (oracle-checked), at the cost of ≤2^-s quantization error per
    * element — invisible next to float precision at s=24.
    *
    * Shape: one codegen'd assignment pass + a dim-exploded (cell, dim)
    * aggregate, map-side combined to ≤ k·dim rows per partition; shuffle
    * is k·dim·|partitions| at any corpus size. Output: (cell, dim, n,
    * mean) — k·dim rows, collectable to rebuild a codebook
    * ([[ivfCentroidsRefinedFull]]). */
  def ivfCellMeans(
      vectors: DataFrame, vecCol: String,
      centroids: Seq[(Int, Seq[Float])], scaleBits: Int = 24): DataFrame = {
    require(scaleBits >= 8 && scaleBits <= 40,
      s"scaleBits $scaleBits outside the sane fixed-point range [8, 40]")
    val scale = (1L << scaleBits).toDouble
    // cell first, explode second: a generator sharing a select with the
    // assignment argmax strips the struct aliases ivfBucket's getField
    // needs (Spark splits the projection around Generate)
    vectors
      .select(col(vecCol).as("__v"),
        ivfBucket(col(vecCol), centroids).as("cell"))
      .select(col("cell"), posexplode(col("__v")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * scale + 0.5).cast("long")).as("__qsum"))
      .select(col("cell"), col("dim"), col("n"),
        (col("__qsum").cast("double") / col("n") / scale).as("mean"))
  }

  /** [[ivfCentroids]] seeds + ONE distributed Lloyd pass over the whole
    * corpus via [[ivfCellMeans]]: the k·dim mean rows collect to the
    * driver (bounded by the codebook size, never the corpus) and round
    * through Float exactly like [[lloydOnce]]. Empty cells keep their
    * seed. Deterministic under any partitioning (spec-asserted). */
  def ivfCentroidsRefinedFull(
      vectors: DataFrame, idCol: String, vecCol: String, k: Int,
      scaleBits: Int = 24): Seq[(Int, Seq[Float])] =
    ivfCentroidsIteratedFull(vectors, idCol, vecCol, k, nIter = 1,
      epsilon = 0.0, scaleBits = scaleBits)

  /** One full-corpus Lloyd pass from the GIVEN centroids: distributed
    * fixed-point means ([[ivfCellMeans]]) collected (k·dim rows, bounded
    * by codebook size) and rounded through Float. Empty cells keep their
    * previous centroid. */
  private def lloydPassFull(
      vectors: DataFrame, vecCol: String, current: Seq[(Int, Seq[Float])],
      scaleBits: Int): Seq[(Int, Seq[Float])] = {
    val dims = current.head._2.length
    val means = ivfCellMeans(vectors, vecCol, current, scaleBits)
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(3).toFloat).toSeq
      }
    current.map { case (i, prevVec) =>
      means.get(i) match {
        case Some(m) if m.length == dims => i -> m
        case _ => i -> prevVec
      }
    }
  }

  /** Max per-dimension centroid movement between two passes — computed
    * from the Float-rounded centroids in Double, so the value (and the
    * early-stop decision below) is deterministic on any engine. Public:
    * callers use it to report convergence trajectories (AnnRecallProbe). */
  def centroidMovement(
      a: Seq[(Int, Seq[Float])], b: Seq[(Int, Seq[Float])]): Double = {
    val bm = b.toMap
    a.map { case (i, va) =>
      val vb = bm(i)
      va.zip(vb).map { case (x, y) => math.abs(x.toDouble - y.toDouble) }
        .foldLeft(0.0)(math.max)
    }.foldLeft(0.0)(math.max)
  }

  /** Multi-pass distributed Lloyd over the FULL corpus: [[ivfCentroids]]
    * seeds, then up to `nIter` fixed-point passes ([[ivfCellMeans]]'s
    * order-free integer sums — each pass bit-identical under any
    * partitioning), stopping early when the max per-dim centroid movement
    * drops to ≤ `epsilon`. Movement is computed from Float-rounded
    * centroids, so the stop rule is itself deterministic — run-to-run AND
    * engine-to-engine (the q102 oracle replays the same passes in SQL).
    * Each pass costs one corpus scan + a k·dim-bounded collect; on
    * clustered corpora later passes tighten cells toward the k-means
    * fixpoint, raising gate recall at equal nProbe (Lloyd 1982; measured
    * in tools/AnnRecallProbe). */
  def ivfCentroidsIteratedFull(
      vectors: DataFrame, idCol: String, vecCol: String, k: Int,
      nIter: Int, epsilon: Double = 0.0, scaleBits: Int = 24,
      seedsOpt: Option[Seq[(Int, Seq[Float])]] = None)
      : Seq[(Int, Seq[Float])] = {
    require(nIter >= 1, s"ivfCentroidsIteratedFull: nIter $nIter < 1")
    val seeds = seedsOpt.getOrElse(ivfCentroids(vectors, idCol, vecCol, k))
    require(seeds.nonEmpty,
      s"ivfCentroidsIteratedFull: empty corpus — no vectors in '$vecCol' to seed $k centroids from")
    var cur = seeds
    var iter = 0
    var moved = Double.PositiveInfinity
    while (iter < nIter && moved > epsilon) {
      val next = lloydPassFull(vectors, vecCol, cur, scaleBits)
      moved = centroidMovement(cur, next)
      cur = next
      iter += 1
    }
    cur
  }

  /** Deterministic farthest-point (maximin) seeding over the bounded
    * codebook sample (Gonzalez 1985, public — the deterministic cousin of
    * k-means++): start from the sample's md5-first vector, then greedily
    * add the sample vector whose angular distance (1 − cos) to its
    * NEAREST chosen seed is largest, ties → earlier sample position.
    * The md5-ordered prefix [[ivfCentroids]] uses can land several seeds
    * inside one dense cluster; maximin spreads them — on clustered
    * corpora that is the difference between an IVF gate that separates
    * the clusters and one that splits a cluster while merging two others
    * (spec-measured on the 5-cluster fixture). Pure driver arithmetic
    * over ≤`sampleN` vectors — deterministic run-to-run, same bounded
    * collect as every codebook routine; feed the result to
    * [[ivfCentroidsIteratedFull]]'s `seedsOpt` for full-corpus Lloyd
    * refinement on top. Zero-norm sample vectors are skipped (their
    * cosine is undefined). */
  def maximinSeeds(
      vectors: DataFrame, idCol: String, vecCol: String, k: Int,
      sampleN: Int = 2048): Seq[(Int, Seq[Float])] = {
    val sample = codebookSample(vectors, idCol, vecCol, sampleN)
      .map(_._2).filter(v => driverDot(v, v) > 0)
    require(sample.length >= k,
      s"maximinSeeds: only ${sample.length} non-zero sample vectors for " +
        s"$k seeds")
    val norms = sample.map(v => math.sqrt(driverDot(v, v))).toArray
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    // minDist(i) = 1 − best cos between sample(i) and any chosen seed;
    // chosen indices are pinned to −∞ so they can never be re-selected
    // (with ≈0 float noise a duplicate-heavy sample could otherwise tie
    // an already-chosen index back into the argmax → duplicate seeds →
    // a permanently empty IVF cell)
    val minDist = Array.tabulate(sample.length) { i =>
      if (i == 0) Double.NegativeInfinity
      else 1.0 - driverDot(sample(i), sample(0)) / (norms(i) * norms(0))
    }
    while (chosen.size < k) {
      var best = -1
      var bestD = Double.NegativeInfinity
      var i = 0
      while (i < sample.length) {
        if (minDist(i) > bestD) { bestD = minDist(i); best = i }
        i += 1
      }
      chosen += best
      minDist(best) = Double.NegativeInfinity
      i = 0
      while (i < sample.length) {
        val d = 1.0 - driverDot(sample(i), sample(best)) / (norms(i) * norms(best))
        if (d < minDist(i)) minDist(i) = d // −∞ pins stay pinned (d ≮ −∞)
        i += 1
      }
    }
    chosen.toSeq.zipWithIndex.map { case (si, i) => i -> sample(si) }
  }

  /** Nearest-centroid assignment as the winning (cos, cell) struct — the
    * argmax [[ivfBucket]] reads its cell index from, exposed whole for
    * operators that also need the winning cosine (SemDeDup's
    * keep-the-outlier policy reads both fields from ONE argmax instead of
    * recomputing k dot products per field). Fields: `c` = cosine to the
    * assigned centroid, `i` = cell index. */
  def ivfAssign(vec: Column, centroids: Seq[(Int, Seq[Float])]): Column = {
    val scored = centroids.map { case (i, c) =>
      // ‖centroid‖ precomputed on the driver with the same sequential
      // sum-of-squares fold DuckDB's list_dot_product uses → identical bits
      val nc = math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      val d = aggregate(
        zip_with(vec, typedlit(c), (x, w) => x.cast("double") * w.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      struct((d / (norm(vec) * lit(nc))).as("c"), lit(i).as("i"))
    }
    array_max(array(scored: _*))
  }

  /** Nearest-centroid assignment (IVF bucket): argmax over k cosine scores,
    * computed as one array_max over (cos, idx) structs — k fused dot
    * products per vector inside codegen, centroids shipped as literals.
    * Ties break to the larger index (lexicographic struct max), mirrored in
    * the SQL oracle. */
  def ivfBucket(vec: Column, centroids: Seq[(Int, Seq[Float])]): Column =
    ivfAssign(vec, centroids).getField("i")

  /** IVF retrieval end-to-end: probe the `nProbe` nearest cells per query
    * and exact-rerank ONLY the vectors assigned to those cells. The scale
    * path for ANN over a partitioned corpus: corpus assignment is one
    * codegen'd pass (bucket ∝ corpus, computed once and storable as a
    * column), the probe set is |queries|·nProbe rows joined equi on
    * bucket, and the N² term disappears — candidates ≈ corpus·nProbe/k
    * per query, each paying one exact cosine. With `nProbe = k` every
    * cell is probed and the result equals [[bruteForceTopK]] exactly
    * (spec-asserted); recall/latency trades along nProbe, the IVF knob.
    * Output: (query_id, neighbor_id, rank, cos) — exact cosines.
    * (Jégou et al. 2011's IVFADC splits the same way; here the rerank is
    * exact because the corpus keeps full vectors — combine with
    * [[adcTopK]] for the compressed variant.) */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])], k: Int, nProbe: Int): DataFrame = {
    requireIntegralId(corpus, idCol, "ivfTopK")
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), ivfBucket(col(vecCol), centroids).as("__bucket"))
    ivfTopKAssigned(queries, assigned, idCol, vecCol, centroids, k, nProbe)
  }

  /** [[ivfTopK]] against a STORED bucket column: the corpus assignment
    * ([[ivfBucket]] persisted as a column, e.g. through a PartStore write)
    * is READ, never recomputed — the incremental-index path for a growing
    * corpus: each ingest batch computes its own bucket at write time, and
    * retrieval probes the stored column however large the corpus has
    * grown. Identical results to [[ivfTopK]] under the same centroids
    * (spec-asserted); the caller owns centroid/column consistency — a
    * bucket column from different centroids silently probes wrong cells,
    * so persist the codebook alongside the column. */
  def ivfTopKStored(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, centroids: Seq[(Int, Seq[Float])], k: Int,
      nProbe: Int): DataFrame = {
    requireIntegralId(corpus, idCol, "ivfTopKStored")
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), col(bucketCol).cast("int").as("__bucket"))
    ivfTopKAssigned(queries, assigned, idCol, vecCol, centroids, k, nProbe)
  }

  /** Per-query probed cells: (query_id, __qv, __bucket), `nProbe` rows per
    * query — the nearest cells with ties and NaN-greatest resolving exactly
    * like ivfBucket's array_max. Shared by [[ivfTopK]]/[[ivfTopKStored]]
    * (exact rerank of probed cells) and [[ivfPqTopK]] (ADC rerank). */
  private def probeCells(
      queries: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])], nProbe: Int): DataFrame = {
    val cellArray = array(centroids.map { case (i, c) =>
      val nc = math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      val d = aggregate(
        zip_with(col("__qv"), typedlit(c), (x, w) => x.cast("double") * w.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      struct((d / (norm(col("__qv")) * lit(nc))).as("c"), lit(i).as("i"))
    }: _*)
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .select(col("query_id"), col("__qv"),
        explode(slice(sort_array(cellArray, asc = false), 1, nProbe)).as("pc"))
      .select(col("query_id"), col("__qv"), col("pc.i").as("__bucket"))
  }

  private def ivfTopKAssigned(
      queries: DataFrame, assigned: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])], k: Int, nProbe: Int): DataFrame =
    ivfTopKProbed(
      probeCells(queries, idCol, vecCol, centroids, nProbe), assigned, k)

  /** Tail of the stored-IVF retrieval with the probes frame ALREADY
    * computed — lets [[ivfTopKStoredPruned]] reuse the same probes it
    * collected for the partition filter instead of paying the k-way
    * centroid scan twice. */
  private def ivfTopKProbed(
      probes: DataFrame, assigned: DataFrame, k: Int): DataFrame = {
    val scored = probes.join(assigned, Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
      .select("query_id", "neighbor_id", "cos")
    topKByQuery(scored, k)
  }

  /** Product-quantization codebooks: the vector space is split into `m`
    * contiguous subspaces of `dim/m` dims; each subspace gets `k` centroids
    * taken from the same deterministic md5-ordered corpus sample as
    * [[ivfCentroids]] (k-means would refine them; the code-assignment
    * machinery is identical). m·k tiny rows collected driver-side — the
    * same legitimate codebook collect as IVF. */
  def pqCodebooks(
      vectors: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      dim: Int): Seq[Seq[(Int, Seq[Float])]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val sample = ivfCentroids(vectors, idCol, vecCol, k)
    require(sample.length == k,
      s"corpus has only ${sample.length} vectors — cannot sample a " +
        s"$k-centroid codebook (pqCode on a partial codebook would emit " +
        "codes the unpack arithmetic misinterprets)")
    (0 until m).map(j => sample.map { case (i, v) =>
      i -> v.slice(j * sub, (j + 1) * sub)
    })
  }

  /** [[pqCodebooks]] + one Lloyd pass per subspace over the shared
    * deterministic sample: each subspace codebook independently moves to
    * its cells' centers of mass — reconstruction error drops, so ADC
    * estimates rank closer to exact cosine order.
    *
    * `sampleN` sizing: the default 2048 gives k=4..16 codebooks hundreds
    * of samples per centroid; at the canonical k=256 that is only ~8 per
    * centroid — raise `sampleN` toward 32·k there (still a bounded
    * driver-side collect at any corpus size). The canonical gates
    * (q89/q90) pass sampleN = 8192 and their oracle mirrors it with the
    * same id-ordered LIMIT. */
  def pqCodebooksRefined(
      vectors: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      dim: Int, sampleN: Int = 2048): Seq[Seq[(Int, Seq[Float])]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val sample = codebookSample(vectors, idCol, vecCol, math.max(k, sampleN))
    require(sample.length >= k,
      s"corpus has only ${sample.length} vectors — cannot sample a " +
        s"$k-centroid codebook")
    (0 until m).map { j =>
      val sliced = sample.map { case (id, v) =>
        (id, v.slice(j * sub, (j + 1) * sub))
      }
      lloydOnce(sliced,
        sliced.take(k).map(_._2).zipWithIndex.map { case (v, i) => i -> v })
    }
  }

  /** Distributed per-(subspace, code, dim) fixed-point means over the
    * FULL corpus — [[ivfCellMeans]]'s q92 arithmetic applied to PQ
    * training: every vector is sub-assigned per subspace through the
    * broadcast-join encoder (the codegen-safe form at k=256 — the Column
    * argmax would inline m·k literal folds), subvector dims explode to
    * (s, code, dim, x) rows, and the sums are `floor(x·2^scaleBits + 0.5)`
    * LONGs — integer addition is order-free, so the means are
    * bit-identical under any partitioning and any engine. Shuffle ≤
    * m·k·sub·|partitions| partial rows. Output: (s, code, dim, n, mean). */
  def pqCellMeans(
      vectors: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[(Int, Seq[Float])]], scaleBits: Int = 24): DataFrame = {
    require(scaleBits >= 8 && scaleBits <= 40,
      s"scaleBits $scaleBits outside the sane fixed-point range [8, 40]")
    val scale = (1L << scaleBits).toDouble
    val sub = codebooks.head.head._2.length
    val coded = pqEncodeArrayKeyed(vectors, Seq(idCol), vecCol, codebooks)
    vectors.select(col(idCol), col(vecCol).as("__v"))
      .join(coded, idCol)
      .select(col("__v"), posexplode(col("pq_code")).as(Seq("s", "code")))
      .select(col("s").cast("int").as("s"), col("code").cast("int").as("code"),
        posexplode(slice(col("__v"), col("s").cast("int") * lit(sub) + 1,
          lit(sub))).as(Seq("dim", "x")))
      .groupBy(col("s"), col("code"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * scale + 0.5).cast("long")).as("__qsum"))
      .select(col("s"), col("code"), col("dim"), col("n"),
        (col("__qsum").cast("double") / col("n") / scale).as("mean"))
  }

  /** [[pqCodebooks]] seeds + ONE distributed Lloyd pass over the whole
    * corpus via [[pqCellMeans]] — the full-corpus training rung for PQ
    * codebooks, completing what q92/[[ivfCentroidsRefinedFull]] did for
    * IVF centroids: no codebook is bounded by a driver sample anymore.
    * The m·k·sub mean rows collect to the driver (bounded by codebook
    * size, never the corpus) and round through Float exactly like
    * [[lloydOnce]]. Codes no corpus vector maps to keep their seed.
    * Deterministic under any partitioning (spec-asserted). */
  def pqCodebooksRefinedFull(
      vectors: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      dim: Int, scaleBits: Int = 24): Seq[Seq[(Int, Seq[Float])]] =
    pqCodebooksIteratedFull(vectors, idCol, vecCol, m, k, dim, nIter = 1,
      epsilon = 0.0, scaleBits = scaleBits)

  /** One full-corpus PQ Lloyd pass from the GIVEN codebooks. */
  private def pqPassFull(
      vectors: DataFrame, idCol: String, vecCol: String,
      current: Seq[Seq[(Int, Seq[Float])]], scaleBits: Int)
      : Seq[Seq[(Int, Seq[Float])]] = {
    val sub = current.head.head._2.length
    val means = pqCellMeans(vectors, idCol, vecCol, current, scaleBits)
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (key, rows) =>
        key -> rows.sortBy(_.getInt(2)).map(_.getDouble(4).toFloat).toSeq
      }
    current.zipWithIndex.map { case (cb, j) =>
      cb.map { case (code, prevVec) =>
        means.get((j, code)) match {
          case Some(v) if v.length == sub => code -> v
          case _ => code -> prevVec
        }
      }
    }
  }

  /** Multi-pass full-corpus PQ codebook training — the
    * [[ivfCentroidsIteratedFull]] loop per subspace: up to `nIter`
    * fixed-point passes, early-stopped when no sub-centroid moves more
    * than `epsilon` in any dimension (movement from Float-rounded books,
    * so the stop rule is deterministic). Each pass is one corpus
    * encode+scan; the collect stays bounded by m·k·(dim/m). */
  def pqCodebooksIteratedFull(
      vectors: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      dim: Int, nIter: Int, epsilon: Double = 0.0, scaleBits: Int = 24)
      : Seq[Seq[(Int, Seq[Float])]] = {
    require(nIter >= 1, s"pqCodebooksIteratedFull: nIter $nIter < 1")
    iteratePqOn(vectors, idCol, vecCol,
      pqCodebooks(vectors, idCol, vecCol, m, k, dim), nIter, epsilon, scaleBits)
  }

  /** The shared multi-pass PQ loop over an arbitrary (id, vector) frame —
    * raw vectors ([[pqCodebooksIteratedFull]]) or residuals
    * ([[pqCodebooksResidualFull]]). */
  private def iteratePqOn(
      frame: DataFrame, idCol: String, vecCol: String,
      seeds: Seq[Seq[(Int, Seq[Float])]], nIter: Int, epsilon: Double,
      scaleBits: Int): Seq[Seq[(Int, Seq[Float])]] = {
    var cur = seeds
    var iter = 0
    var moved = Double.PositiveInfinity
    while (iter < nIter && moved > epsilon) {
      val next = pqPassFull(frame, idCol, vecCol, cur, scaleBits)
      moved = cur.zip(next).map { case (a, b) => centroidMovement(a, b) }
        .foldLeft(0.0)(math.max)
      cur = next
      iter += 1
    }
    cur
  }

  /** Full-corpus residual codebook training — the last sample-bounded
    * training step in the residual tier: [[pqCodebooksResidual]]'s
    * sample-trained books seed up to `nIter` distributed fixed-point
    * passes over EVERY corpus residual ([[residualFrame]] — the same
    * Float-subtract arithmetic the encoder uses), with the
    * [[ivfCentroidsIteratedFull]] ε early stop. Completes the training
    * matrix: IVF full (q95), PQ full (q101), residual full (q106) —
    * no codebook anywhere is bounded by a driver sample. */
  def pqCodebooksResidualFull(
      vectors: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])], m: Int, k: Int, dim: Int,
      sampleN: Int = 8192, nIter: Int = 1, epsilon: Double = 0.0,
      scaleBits: Int = 24): Seq[Seq[(Int, Seq[Float])]] = {
    require(nIter >= 1, s"pqCodebooksResidualFull: nIter $nIter < 1")
    val seeds =
      pqCodebooksResidual(vectors, idCol, vecCol, centroids, m, k, dim, sampleN)
    iteratePqOn(
      residualFrame(vectors, idCol, vecCol, centroids)
        .select(col(idCol), col("__res")),
      idCol, "__res", seeds, nIter, epsilon, scaleBits)
  }

  /** Residual PQ codebooks — the IVFADC composition as FAISS ships it
    * (`IndexIVFPQ` encodes residuals by default): each sample vector is
    * assigned to its IVF cell with [[ivfBucket]]'s exact arithmetic
    * ([[driverAssign]]), the cell centroid is subtracted in Float IEEE
    * (both engines reproduce the rounding bit-exactly), and per-subspace
    * codebooks train on the residual slices. Residuals remove the cell
    * mean, so the m·log₂k code bits encode within-cell structure instead
    * of re-encoding cell position — reconstruction error drops vs one
    * global codebook over raw vectors, which is the accuracy rung above
    * [[pqCodebooksRefined]] for cell-probed retrieval
    * ([[ivfPqTopKResidual]]). Same bounded driver-side sample collect. */
  def pqCodebooksResidual(
      vectors: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])], m: Int, k: Int, dim: Int,
      sampleN: Int = 2048): Seq[Seq[(Int, Seq[Float])]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val sample = codebookSample(vectors, idCol, vecCol, math.max(k, sampleN))
    require(sample.length >= k,
      s"corpus has only ${sample.length} vectors — cannot sample a " +
        s"$k-centroid codebook")
    val assign = driverAssign(centroids)
    val cmap = centroids.toMap
    val residuals = sample.map { case (id, v) =>
      val c = cmap(assign(v))
      (id, v.zip(c).map { case (x, y) => x - y })
    }
    (0 until m).map { j =>
      val sliced = residuals.map { case (id, v) =>
        (id, v.slice(j * sub, (j + 1) * sub))
      }
      lloydOnce(sliced,
        sliced.take(k).map(_._2).zipWithIndex.map { case (v, i) => i -> v })
    }
  }

  /** Residual IVF-PQ index columns in one pass: (idCol, bucket, pq_code)
    * where `bucket` is the IVF cell and `pq_code` encodes the CELL
    * RESIDUAL (vector − cell centroid, Float IEEE) against
    * [[pqCodebooksResidual]] codebooks. The centroid subtraction is a
    * broadcast join on bucket (k tiny rows) feeding a float `zip_with`;
    * the encode is the audited broadcast-join form carrying (id, bucket)
    * through. This is the write-time column pair for the residual stored
    * index — feed [[ivfPqTopKResidual]]. */
  /** (id, bucket, __res) residual frame: each vector minus its assigned
    * cell centroid, Float IEEE subtract — the one residual definition
    * shared by the encoder and the full-corpus trainer so they cannot
    * drift. Broadcast-join against the k-row centroid frame; narrow
    * otherwise. */
  private def residualFrame(
      vectors: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cframe = centroids.toDF("__b", "__cent")
    vectors
      .select(col(idCol), col(vecCol).as("__v"),
        ivfBucket(col(vecCol), centroids).as("bucket"))
      .join(broadcast(cframe), col("bucket") === col("__b"))
      .select(col(idCol), col("bucket"),
        zip_with(col("__v"), col("__cent"), (x, y) => x - y).as("__res"))
  }

  def ivfPqEncodeResidual(
      vectors: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])],
      codebooks: Seq[Seq[(Int, Seq[Float])]]): DataFrame =
    pqEncodeArrayKeyed(residualFrame(vectors, idCol, vecCol, centroids),
      Seq(idCol, "bucket"), "__res", codebooks)

  /** [[ivfPqTopK]] over RESIDUAL codes: candidates come from the same
    * nProbe-cell gate, but the ADC estimate reconstructs
    * `cell centroid + residual centroid` — the distance table carries one
    * row per (query, probed cell, j, code) against the k·m·k_codes
    * combined-centroid frame (16 384 rows at the canonical 8/8/256 —
    * still a driver-built broadcast), so estimates are cell-aware and
    * materially tighter than the cell-agnostic [[ivfPqTopK]] table.
    * `index` carries the write-time (idCol, bucketCol, codeCol) columns
    * from [[ivfPqEncodeResidual]] (fresh or stored — the encoder IS the
    * write-time form). With `shortlist` ≥ the probed candidate count the
    * result equals [[ivfTopK]] at the same nProbe exactly — the ADC tier
    * only orders the shortlist cut (spec-asserted). */
  def ivfPqTopKResidual(
      queries: DataFrame, index: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, bucketCol: String, codeCol: String,
      centroids: Seq[(Int, Seq[Float])],
      codebooks: Seq[Seq[(Int, Seq[Float])]], k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    requireIntegralId(index, idCol, "ivfPqTopKResidual")
    val sub = codebooks.head.head._2.length
    val spark = queries.sparkSession
    import spark.implicits._
    // combined reconstruction centroids: cell slice + residual centroid,
    // Float IEEE add (the arithmetic the oracle mirrors through REAL)
    val cellCents = centroids.flatMap { case (cell, cvec) =>
      codebooks.zipWithIndex.flatMap { case (cb, j) =>
        cb.map { case (code, rvec) =>
          val comb = cvec.slice(j * sub, (j + 1) * sub).zip(rvec)
            .map { case (x, y) => x + y }
          (cell, j, code, comb, driverDot(comb, comb))
        }
      }
    }.toDF("__bucket", "j", "code", "__cvec", "cn2")
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
    // per-(query, probed cell) distance table: |queries|·nProbe·m·k rows
    val dt = probes
      .select(col("query_id"), col("__bucket"), norm(col("__qv")).as("qn"),
        col("__qv"))
      .filter(col("qn") > 0d)
      .join(broadcast(cellCents), Seq("__bucket"))
      .select(col("query_id"), col("__bucket"), col("qn"), col("j"), col("code"),
        dot(slice(col("__qv"), col("j") * lit(sub) + 1, lit(sub)),
          col("__cvec")).as("qdot"),
        col("cn2"))
    val cand = probes.select(col("query_id"), col("__bucket"))
      .join(index.select(col(idCol).as("neighbor_id"),
        col(bucketCol).cast("int").as("__bucket"), col(codeCol).as("__pq")),
        Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("__bucket"), col("neighbor_id"),
        posexplode(col("__pq")).as(Seq("j", "code")))
      .select(col("query_id"), col("__bucket"), col("neighbor_id"),
        col("j").cast("int").as("j"), col("code").cast("int").as("code"))
    adcEstimateRerank(
      cand.join(broadcast(dt), Seq("query_id", "__bucket", "j", "code")),
      queries, corpus, idCol, vecCol, k, shortlist, codebooks.length)
  }

  /** Packed PQ code: per subspace, nearest-centroid assignment by cosine
    * (argmax with higher-index tie-break — [[ivfBucket]] on the subvector,
    * the engine-portable arithmetic proven for q56), packed little-endian
    * as Σ codeⱼ·k^j into one BIGINT. An N-vector corpus compresses to N
    * codes of m·log₂k bits: the memory-resident index for 100 TB ANN —
    * candidate generation scans codes, exact rerank touches only the
    * shortlist's full vectors. */
  def pqCode(vec: Column, codebooks: Seq[Seq[(Int, Seq[Float])]]): Column = {
    val k = codebooks.head.length
    val sub = codebooks.head.head._2.length
    require(BigInt(k).pow(codebooks.length) <= (BigInt(1) << 53),
      s"k^m = $k^${codebooks.length} overflows exact BIGINT packing; " +
        "use pqCodeArray for wider configurations (m=8, k=256)")
    codebooks.zipWithIndex.map { case (cb, j) =>
      val codeJ = ivfBucket(slice(vec, j * sub + 1, sub), cb)
      codeJ.cast("long") * math.pow(k, j).toLong
    }.reduce(_ + _)
  }

  /** PQ code as `array<smallint>` of the m subcodes in subspace order —
    * the layout for configurations the BIGINT packing can't hold exactly,
    * above all the canonical 64-bit PQ (m=8, k=256: k^m = 2^64 > 2^53).
    * Same per-subspace assignment arithmetic as [[pqCode]]; the array
    * costs m·2 bytes per vector (16 bytes at the canonical config — still
    * a 16× compression of a 64-dim float vector) and [[adcTopKArray]]
    * reads subcodes positionally instead of div/mod-unpacking, so no
    * arithmetic touches the code at retrieval either. */
  def pqCodeArray(vec: Column, codebooks: Seq[Seq[(Int, Seq[Float])]]): Column = {
    val sub = codebooks.head.head._2.length
    require(codebooks.head.length <= 32767,
      s"k = ${codebooks.head.length} overflows a smallint subcode")
    array(codebooks.zipWithIndex.map { case (cb, j) =>
      ivfBucket(slice(vec, j * sub + 1, sub), cb).cast("smallint")
    }: _*)
  }

  /** Frame-level PQ encoding via a broadcast join against an m·k-row
    * codebook frame — the form that stays fast at the canonical m=8,
    * k=256: the Column form ([[pqCodeArray]]) inlines m·k literal fold
    * expressions, and at 2048 of them the generated class is ~11 MB and
    * Janino takes ~14 s to compile it PER PLAN; the join form keeps one
    * fold expression regardless of k. Per-vector arithmetic is identical
    * (same subspace dot/norm folds, same (cos, code) argmax with
    * higher-code tie-break and NaN-greatest), so codes are bit-identical
    * to [[pqCodeArray]] (spec-asserted). Output: (idCol, pq_code:
    * array<smallint>); feed straight into [[adcTopKArray]]. The
    * |corpus|·m·k intermediate never materializes — partial aggregation
    * collapses it map-side to |corpus|·m before any shuffle. */
  def pqEncodeArray(
      vectors: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[(Int, Seq[Float])]]): DataFrame =
    pqEncodeArrayKeyed(vectors, Seq(idCol), vecCol, codebooks)

  /** [[pqEncodeArray]] grouped by several passthrough key columns — the
    * residual encoder carries (id, bucket) through the encode so the
    * bucket needn't be re-joined afterwards. */
  private def pqEncodeArrayKeyed(
      vectors: DataFrame, keys: Seq[String], vecCol: String,
      codebooks: Seq[Seq[(Int, Seq[Float])]]): DataFrame = {
    val sub = codebooks.head.head._2.length
    require(codebooks.head.length <= 32767,
      s"k = ${codebooks.head.length} overflows a smallint subcode")
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.map { case (code, cvec) =>
        // ‖centroid‖ precomputed with the same driver-side fold as
        // ivfBucket — identical bits
        (j, code, cvec,
          math.sqrt(cvec.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
      }
    }.toDF("j", "code", "__cvec", "__cn")
    // dot = the codegen'd FloatVectorDot (same left-to-right double fold
    // as the HOF form — bit-identical, spec-asserted): the |corpus|·m·k
    // joined rows each pay one tight primitive loop instead of an
    // interpreted zip_with/aggregate lambda pair (~10× on this stage).
    // (r19 negative result: hoisting the m slices + norms above the cross
    // join as per-row arrays measured ~45% SLOWER on q101 — the nested
    // array materialization per stream row and element_at indirection
    // cost more than the k-redundant slice+norm folds save; reverted.)
    val subv = slice(col("__v"), col("j") * lit(sub) + 1, lit(sub))
    val keyCols = keys.map(col)
    vectors.select(keyCols :+ col(vecCol).as("__v"): _*)
      .crossJoin(broadcast(cents))
      .select(keyCols ++ Seq(col("j"), col("code"),
        (dot(subv, col("__cvec")) / (norm(subv) * col("__cn"))).as("__cos")): _*)
      .groupBy(keyCols :+ col("j"): _*)
      // struct-max = array_max's lexicographic (cos, code) with NaN
      // greatest — the exact ivfBucket tie-break
      .agg(max(struct(col("__cos"), col("code"))).as("__m"))
      .groupBy(keyCols: _*)
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("__m.code").as("c")))),
        s => s.getField("c").cast("smallint")).as("pq_code"))
  }

  /** ADC (asymmetric distance computation) retrieval over PQ codes: the
    * query keeps its full vector, the corpus is represented ONLY by packed
    * codes — the estimated dot product is Σⱼ dot(qⱼ, centroid(j, codeⱼ)),
    * separable across subspaces, and the estimated cosine divides by ‖q‖
    * and the reconstructed-centroid norm √Σⱼ‖c(j,codeⱼ)‖².
    *
    * Scale shape — the point of PQ: the corpus side carries m small
    * integers per vector instead of the embedding; the per-query distance
    * table (m·k dot products) is computed once and BROADCAST, the
    * candidate scan is a broadcast-join over exploded (vec, j, codeⱼ)
    * rows re-aggregated by (query, vec) in fixed subspace order, and only
    * the ADC top-`shortlist` survivors pay the exact-cosine join against
    * full vectors. Returns (query_id, neighbor_id, rank, cos) — exact
    * cosines, ADC-selected candidates.
    *
    * Broadcast bound: the distance table carries |queries|·m·k rows
    * (2048 per query at the canonical m=8, k=256), so the broadcast is
    * sized for interactive query sets — ~10⁴ queries ≈ 20M small rows
    * against the default 8 GB broadcast ceiling. */
  def adcTopK(
      queries: DataFrame, codes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, codebooks: Seq[Seq[(Int, Seq[Float])]], k: Int,
      shortlist: Int): DataFrame = {
    requireIntegralId(codes, idCol, "adcTopK")
    val m = codebooks.length
    val kCodes = codebooks.head.length
    // corpus codes unpacked to (id, j, code_j) by div/mod on the packed
    // BIGINT — exact because pqCode enforces k^m ≤ 2^53
    val unpacked = codes.select(col(idCol).as("neighbor_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        j => pmod(floor(col("pq_code") / pow(lit(kCodes), j.cast("double"))).cast("long"),
          lit(kCodes)).cast("int"))).as(Seq("j", "code")))
    adcTopKUnpacked(queries, unpacked, corpus, idCol, vecCol, codebooks, k,
      shortlist)
  }

  /** [[adcTopK]] over `array<smallint>` codes ([[pqCodeArray]]): identical
    * retrieval, but the unpack is a positional explode of the code array —
    * no arithmetic, no 2^53 ceiling, so the canonical 64-bit PQ (m=8,
    * k=256) works. */
  def adcTopKArray(
      queries: DataFrame, codes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, codebooks: Seq[Seq[(Int, Seq[Float])]], k: Int,
      shortlist: Int): DataFrame = {
    requireIntegralId(codes, idCol, "adcTopKArray")
    val unpacked = codes.select(col(idCol).as("neighbor_id"),
        posexplode(col("pq_code")).as(Seq("j", "code")))
      .select(col("neighbor_id"), col("j").cast("int").as("j"),
        col("code").cast("int").as("code"))
    adcTopKUnpacked(queries, unpacked, corpus, idCol, vecCol, codebooks, k,
      shortlist)
  }

  /** Per-query ADC distance table: one row per (query, j, code) carrying
    * dot(qⱼ, c_{j,code}) and the centroid's ‖c‖², via a broadcast cross
    * join against the m·k-row codebook frame. A prior version inlined m·k
    * literal fold expressions instead; at the canonical m=8, k=256 that
    * compiled an 11 MB task binary that fell out of codegen and ran ~20×
    * slower — the tiny broadcast join keeps ONE fold expression
    * regardless of k. */
  private def adcDistanceTable(
      queries: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[(Int, Seq[Float])]]): DataFrame = {
    val sub = codebooks.head.head._2.length
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.map { case (code, cvec) =>
        (j, code, cvec,
          cvec.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      }
    }.toDF("j", "code", "__cvec", "cn2")
    // zero-norm queries have no defined cosine: est_cos would be NaN for
    // every candidate (dropped by the NaN-rejecting top-k while a SQL
    // ORDER BY ranks NaN first) — exclude them outright, matching the
    // oracle's qn > 0 guard
    queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .select(col("query_id"), norm(col("__qv")).as("qn"), col("__qv"))
      .filter(col("qn") > 0d)
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("qn"), col("j"), col("code"),
        dot(slice(col("__qv"), col("j") * lit(sub) + 1, lit(sub)),
          col("__cvec")).as("qdot"),
        col("cn2"))
  }

  private def adcTopKUnpacked(
      queries: DataFrame, unpacked: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      codebooks: Seq[Seq[(Int, Seq[Float])]], k: Int,
      shortlist: Int): DataFrame = {
    val q = adcDistanceTable(queries, idCol, vecCol, codebooks)
    // |queries|·m·k distance-table rows, broadcast (see adcTopK scaladoc)
    adcEstimateRerank(unpacked.join(broadcast(q), Seq("j", "code")),
      queries, corpus, idCol, vecCol, k, shortlist, codebooks.length)
  }

  /** ADC tail shared by the full-scan paths ([[adcTopK]]/[[adcTopKArray]])
    * and the cell-probed path ([[ivfPqTopK]]): `joined` carries one row per
    * (query_id, neighbor_id, subspace) with the distance-table columns
    * (qn, j, qdot, cn2) attached — exactly one row per subspace j in
    * 0..m−1. Folds the estimated cosine in fixed j-order, shortlists per
    * query, exact-reranks only the shortlist.
    *
    * The per-pair fold is PIVOTED into m codegen `sum(when(j = i, …))`
    * aggregates plus an explicit left-associative `0.0 + d₀ + … + d_{m−1}`
    * sum: each group holds exactly one row per j, so every sum is that
    * row's value and the addition sequence is the same left-to-right
    * j-ascending double fold as the previous
    * `array_sort(collect_list(struct(j, …)))` + `aggregate(…)` form —
    * bit-identical est_cos, but whole-stage-codegen'd instead of an
    * interpreted higher-order lambda over a per-group collected array
    * (this aggregate runs once per (query, candidate) pair — the widest
    * frame of every ADC retrieval). */
  private def adcEstimateRerank(
      joined: DataFrame, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlist: Int,
      m: Int): DataFrame = {
    val sums =
      (0 until m).map(j => sum(when(col("j") === j, col("qdot"))).as(s"__d$j")) ++
      (0 until m).map(j => sum(when(col("j") === j, col("cn2"))).as(s"__c$j"))
    val est = joined
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("qn")).as("qn"), sums: _*)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        ((0 until m).map(j => col(s"__d$j")).foldLeft(lit(0.0))(_ + _) /
          (col("qn") * sqrt(
            (0 until m).map(j => col(s"__c$j")).foldLeft(lit(0.0))(_ + _))))
          .as("est_cos"))
      // a candidate whose reconstructed centroid norm is zero (degenerate
      // codebook) has no estimate — drop rather than NaN-sink it
      .filter(!isnan(col("est_cos")))
    shortlistExactRerank(est, queries, corpus, idCol, vecCol, k, shortlist)
  }

  /** Shortlist-by-estimate → exact-rerank tail shared by every
    * compressed-scan retrieval (ADC over PQ codes, the scalar-quantizer
    * scan): `est` carries one (query_id, neighbor_id, est_cos) row per
    * surviving candidate with NaN estimates already filtered. Only the
    * ≤`shortlist` best-estimated candidates per query pay the full-vector
    * cosine; final order is exact (cos desc, neighbor asc) top-`k`. */
  private def shortlistExactRerank(
      est: DataFrame, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlist: Int): DataFrame = {
    val short = est
      .groupBy("query_id")
      .agg(graft.expressions.TopKPairs.topk(
        col("neighbor_id").cast("long"), col("est_cos").cast("double"), shortlist)
        .as("tops"))
      .select(col("query_id"), explode(col("tops")).as("t"))
      .select(col("query_id"), col("t._2").as("neighbor_id"))
    // exact rerank: only the shortlist pays the full-vector cosine
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val exact = short.join(qv, "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("cos"))
    topKByQuery(exact, k)
  }

  /** IVF-PQ retrieval (the IVFADC composition of Jégou et al. 2011, the
    * FAISS `IndexIVFPQ` analogue): probe the `nProbe` nearest IVF cells per
    * query, ADC-score ONLY the PQ codes of vectors assigned to those cells,
    * and exact-rerank the ADC shortlist against full vectors. This is the
    * 100 TB retrieval rung the separate pieces build toward:
    *
    *  - [[ivfTopK]] alone still pays a full-vector cosine per candidate
    *    (corpus·nProbe/k per query);
    *  - [[adcTopKArray]] alone scans EVERY corpus code per query
    *    (corpus·m joined rows);
    *  - combined, the candidate scan is corpus·nProbe/k codes per query —
    *    m small integers each — so per-query work drops by k/nProbe on top
    *    of PQ's per-row compression, and the corpus side never touches a
    *    full vector until the ≤`shortlist` rerank rows.
    *
    * `codes` carries (idCol, pq_code array<smallint>) — [[pqCodeArray]] /
    * [[pqEncodeArray]] output, storable as a column; `corpus` keeps full
    * vectors for cell assignment and the final rerank (at scale both are
    * columns of the same stored table, so the id-equi join below is
    * scan-local). With `nProbe = |centroids|` every cell is probed and the
    * result equals [[adcTopKArray]] exactly (spec-asserted).
    * Output: (query_id, neighbor_id, rank, cos) — exact cosines,
    * IVF-gated ADC-selected candidates. */
  def ivfPqTopK(
      queries: DataFrame, codes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[(Int, Seq[Float])],
      codebooks: Seq[Seq[(Int, Seq[Float])]], k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    requireIntegralId(codes, idCol, "ivfPqTopK")
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
      ivfBucket(col(vecCol), centroids).as("__bucket"))
      .join(codes.select(col(idCol).as("neighbor_id"), col("pq_code")),
        Seq("neighbor_id"))
    ivfPqAssigned(queries, assigned, corpus, idCol, vecCol, centroids,
      codebooks, k, nProbe, shortlist)
  }

  /** [[ivfPqTopK]] against a STORED index frame carrying BOTH the bucket
    * column and the code array (each ingest batch computes its own at
    * write time — [[ivfTopKStored]]'s incremental-index contract extended
    * to the compressed path). Neither is recomputed; the caller owns
    * centroid/codebook/column consistency (persist both sidecars). */
  def ivfPqTopKStored(
      queries: DataFrame, index: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, bucketCol: String, codeCol: String,
      centroids: Seq[(Int, Seq[Float])],
      codebooks: Seq[Seq[(Int, Seq[Float])]], k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    requireIntegralId(index, idCol, "ivfPqTopKStored")
    val assigned = index.select(col(idCol).as("neighbor_id"),
      col(bucketCol).cast("int").as("__bucket"), col(codeCol).as("pq_code"))
    ivfPqAssigned(queries, assigned, corpus, idCol, vecCol, centroids,
      codebooks, k, nProbe, shortlist)
  }

  private def ivfPqAssigned(
      queries: DataFrame, assigned: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[(Int, Seq[Float])],
      codebooks: Seq[Seq[(Int, Seq[Float])]], k: Int, nProbe: Int,
      shortlist: Int): DataFrame =
    ivfPqProbed(probeCells(queries, idCol, vecCol, centroids, nProbe),
      queries, assigned, corpus, idCol, vecCol, codebooks, k, shortlist)

  private def ivfPqProbed(
      probes: DataFrame, queries: DataFrame, assigned: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[(Int, Seq[Float])]], k: Int,
      shortlist: Int): DataFrame = {
    // candidate (query, neighbor, j, code) rows: probe-cell equi-join
    // gates the corpus BEFORE any code is unpacked — rows ∝
    // |queries|·(corpus·nProbe/k)·m, never corpus·|queries|
    val cand = probes
      .select(col("query_id"), col("__bucket"))
      .join(assigned, Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        posexplode(col("pq_code")).as(Seq("j", "code")))
      .select(col("query_id"), col("neighbor_id"),
        col("j").cast("int").as("j"), col("code").cast("int").as("code"))
    val dt = adcDistanceTable(queries, idCol, vecCol, codebooks)
    // keyed by query_id as well — each candidate only meets ITS query's
    // distance-table rows, unlike the full-scan path's (j, code) join
    adcEstimateRerank(cand.join(broadcast(dt), Seq("query_id", "j", "code")),
      queries, corpus, idCol, vecCol, k, shortlist, codebooks.length)
  }

  /** Stored IVF-PQ retrieval with PARTITION-PRUNED scan over a
    * by-bucket index part ([[writeIndexBatchByBucket]]) — the
    * compressed-codes sibling of [[ivfTopKStoredPruned]]: the probed
    * cells (≤ codebook-size, collected driver-side) become a `pindex
    * IN (...)` PartitionFilter, so the scan lists only those cells'
    * directories, THEN the ADC estimate runs over the pruned stored
    * codes and the exact rerank pays full vectors for the shortlist
    * alone. Results identical to [[ivfPqTopKStored]] over the same
    * rows (spec-asserted; pruning is pure IO elision). At 100 TB this
    * is the compressed retrieval path that touches nProbe/k of the
    * index bytes instead of all of them. */
  def ivfPqTopKStoredPruned(
      queries: DataFrame, ps: graft.storage.PartStore, part: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])],
      codebooks: Seq[Seq[(Int, Seq[Float])]], k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    requireIntegralId(queries, idCol, "ivfPqTopKStoredPruned")
    require(ps.config.partitionSizeSeconds == 1L,
      "ivfPqTopKStoredPruned requires a by-bucket index store " +
        "(PartStoreConfig(partitionSizeSeconds = 1), written by " +
        s"writeIndexBatchByBucket) — got ${ps.config.partitionSizeSeconds}")
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .localCheckpoint() // computed ONCE: feeds both the filter and the join
    val cells = probes
      .select(col("__bucket")).distinct()
      .collect().map(_.getInt(0).toLong).sorted
    val stored = ps.readPart(part).getOrElse(
        throw new IllegalArgumentException(
          s"ivfPqTopKStoredPruned: no stored index part '$part'"))
      .filter(col("pindex").isin(cells.toIndexedSeq: _*))
    val assigned = stored.select(col("entity_id").as("neighbor_id"),
      col("bucket").cast("int").as("__bucket"), col("pq_code"))
    ivfPqProbed(probes, queries, assigned, corpus, idCol, vecCol,
      codebooks, k, shortlist)
  }

  /** Write one ingest batch's IVF-PQ index columns — bucket + PQ code
    * array computed at write time — through a PartStore staged merge.
    * THE write-time indexing contract, shared by the batch incremental
    * loop (q99) and the streaming `StreamingRollup.indexSink`: one
    * implementation, so the stored-equals-fresh gate property cannot
    * drift between the two ingest paths. Stored columns:
    * (entity_id, timestamp=entity_id, embedding, bucket, pq_code, modified).
    *
    * `timestamp = entity_id` makes the PartStore's time partitioning an
    * ID-RANGE partitioning for index parts: pindex = id div
    * `partitionSizeSeconds` (read "ids per partition" here). The merge
    * base and the staged swap then touch ONLY the partitions containing
    * the batch's ids — appends of fresh (monotone) ids land in tail
    * partitions and re-embeds rewrite just the ranges holding those keys,
    * so per-append cost is O(batch + touched partitions), never O(index).
    * (A constant timestamp would collapse the index into one partition and
    * make every append a full rewrite; an IVF-bucket key would not bound
    * the blast radius either, since a random batch spans most cells.) */
  def writeIndexBatch(
      ps: graft.storage.PartStore, part: String,
      batch: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])],
      codebooks: Seq[Seq[(Int, Seq[Float])]], modified: Long): Unit = {
    // FORMAT NOTE: timestamp = entity_id (id-range partitioning) since the
    // round-11 fix — earlier indexes wrote timestamp = 0, so every row
    // shared one partition and one upsert keyspace. Re-ingesting into a
    // pre-fix stored part would upsert under NEW (entity_id, entity_id)
    // keys and leave the old (entity_id, 0) rows behind as duplicates:
    // REBUILD any index written before this change rather than appending.
    // the batch feeds BOTH the encoder and the vector re-attach join
    val cached = batch.persist()
    ps.store(part, pqEncodeArray(cached, idCol, vecCol, codebooks)
      .join(cached, idCol)
      .select(col(idCol).as("entity_id"),
        col(idCol).cast("long").as("timestamp"),
        col(vecCol).as("embedding"),
        ivfBucket(col(vecCol), centroids).as("bucket"),
        col("pq_code"), lit(modified).as("modified")))
    cached.unpersist()
    ()
  }

  /** [[writeIndexBatch]] for the SQ rung: same id-range partitioning and
    * write-time columns, with the per-dim uint8 code array in place of PQ
    * codes — appends touch only the partitions holding the batch's ids,
    * and retrieval ([[ivfSqTopKStored]]) recomputes nothing. Frozen
    * centroid/param contract as everywhere: persist both sidecars
    * ([[saveCentroids]], [[saveSqParams]]) and load them per batch. */
  def writeIndexBatchSq(
      ps: graft.storage.PartStore, part: String,
      batch: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])],
      params: Seq[(Float, Float)], modified: Long): Unit = {
    ps.store(part, batch
      .select(col(idCol).as("entity_id"),
        col(idCol).cast("long").as("timestamp"),
        col(vecCol).as("embedding"),
        ivfBucket(col(vecCol), centroids).as("bucket"),
        sqCode(col(vecCol), params).as("sq_code"),
        lit(modified).as("modified")))
    ()
  }

  /** [[writeIndexBatch]]'s READ-optimized sibling: timestamp = IVF
    * bucket, so with `PartStoreConfig(partitionSizeSeconds = 1)` the
    * stored part is partitioned BY CELL (pindex == bucket) and stored
    * retrieval prunes the scan to the probed cells
    * ([[ivfTopKStoredPruned]]) — IO ∝ nProbe/k of the index instead of a
    * full scan. The partitioning trade, explicitly:
    *  - id-range ([[writeIndexBatch]]): appends touch only the
    *    partitions holding the batch's ids — ingest-heavy indexes.
    *  - by-bucket (this): a random batch spans most cells, so each
    *    append rewrites most partitions — build-once / low-rate-ingest
    *    indexes serving many retrievals.
    * Contract: the codebook must be FROZEN — bucket derives from it, and
    * the upsert key includes the bucket-valued timestamp, so a
    * re-embedded vector that changes cells leaves its old row in the old
    * cell's partition (rebuild, or tombstone, on codebook change). */
  def writeIndexBatchByBucket(
      ps: graft.storage.PartStore, part: String,
      batch: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])],
      codebooks: Seq[Seq[(Int, Seq[Float])]], modified: Long): Unit = {
    val cached = batch.persist()
    ps.store(part, pqEncodeArray(cached, idCol, vecCol, codebooks)
      .join(cached, idCol)
      .select(col(idCol).as("entity_id"),
        ivfBucket(col(vecCol), centroids).cast("long").as("timestamp"),
        col(vecCol).as("embedding"),
        ivfBucket(col(vecCol), centroids).as("bucket"),
        col("pq_code"), lit(modified).as("modified")))
    cached.unpersist()
    ()
  }

  /** Stored IVF retrieval with PARTITION-PRUNED scan over a by-bucket
    * index part ([[writeIndexBatchByBucket]]): the union of all queries'
    * probe cells — at most k distinct values, collected driver-side from
    * the probes frame (bounded by the codebook, never the corpus) —
    * becomes a `pindex IN (...)` PartitionFilter, so the scan lists only
    * the probed cells' directories. At 100 TB with k=4096 cells and
    * nProbe=64 that is 1.6 % of the index read instead of 100 %.
    * Results are identical to [[ivfTopKStored]] over the same rows
    * (spec-asserted); the pruning is pure IO elision. */
  def ivfTopKStoredPruned(
      queries: DataFrame, ps: graft.storage.PartStore, part: String,
      idCol: String, vecCol: String, centroids: Seq[(Int, Seq[Float])],
      k: Int, nProbe: Int): DataFrame = {
    requireIntegralId(queries, idCol, "ivfTopKStoredPruned")
    // pindex == bucket only holds for partitionSizeSeconds = 1 (the
    // writeIndexBatchByBucket contract); any other size maps every bucket
    // to pindex 0 and the cell filter would SILENTLY return empty results
    require(ps.config.partitionSizeSeconds == 1L,
      "ivfTopKStoredPruned requires a by-bucket index store " +
        "(PartStoreConfig(partitionSizeSeconds = 1), written by " +
        s"writeIndexBatchByBucket) — got ${ps.config.partitionSizeSeconds}")
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .localCheckpoint() // computed ONCE: feeds both the filter and the join
    val cells = probes
      .select(col("__bucket")).distinct()
      .collect().map(_.getInt(0).toLong).sorted
    val stored = ps.readPart(part).getOrElse(
        throw new IllegalArgumentException(
          s"ivfTopKStoredPruned: no stored index part '$part'"))
      .filter(col("pindex").isin(cells.toIndexedSeq: _*))
    val assigned = stored.select(col("entity_id").as("neighbor_id"),
      col("embedding").as("__cv"), col("bucket").cast("int").as("__bucket"))
    ivfTopKProbed(probes, assigned, k)
  }

  /** Persist centroids next to a stored index: a stored bucket/code
    * column is only meaningful WITH the codebook that produced it
    * ([[ivfTopKStored]]'s contract), so the two must travel together.
    * Format: one `index<TAB>comma-joined-floats` line per centroid —
    * `Float.toString` is the shortest round-tripping decimal, so
    * save → load is bit-exact (spec-asserted). Driver-side, O(k·dim). */
  def saveCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Seq[(Int, Seq[Float])]): Unit = {
    val fs = graft.core.HadoopFs.forPath(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(centroids.map { case (i, v) =>
      s"$i\t${v.mkString(",")}"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Inverse of [[saveCentroids]]. */
  def loadCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Seq[Float])] = {
    val fs = graft.core.HadoopFs.forPath(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    val text =
      try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
    text.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(i, vs) = line.split("\t", 2)
      i.toInt -> vs.split(",").toSeq.map(_.toFloat)
    }
  }

  /** Persist PQ codebooks (all m subspaces) — the sidecar for a stored
    * `pq_code` column ([[pqEncodeArray]] output through a PartStore).
    * Lines are `j<TAB>code<TAB>floats`; same exact round trip. */
  def savePqCodebooks(
      spark: org.apache.spark.sql.SparkSession, path: String,
      codebooks: Seq[Seq[(Int, Seq[Float])]]): Unit = {
    val fs = graft.core.HadoopFs.forPath(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.map { case (code, v) => s"$j\t$code\t${v.mkString(",")}" }
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Persist scalar-quantizer params — the sidecar for a stored `sq_code`
    * column ([[sqEncode]] output through a PartStore). Lines are
    * `dim<TAB>min<TAB>max`; `Float.toString` is an exact round trip, so
    * loaded params decode stored codes bit-identically. Same frozen-param
    * contract as the centroid/codebook sidecars: retraining params
    * invalidates every stored code. */
  def saveSqParams(
      spark: org.apache.spark.sql.SparkSession, path: String,
      params: Seq[(Float, Float)]): Unit = {
    val fs = graft.core.HadoopFs.forPath(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(params.zipWithIndex.map { case ((mn, mx), d) =>
      s"$d\t$mn\t$mx"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Inverse of [[saveSqParams]]. */
  def loadSqParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Float, Float)] = {
    val fs = graft.core.HadoopFs.forPath(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    val text =
      try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
    text.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(d, mn, mx) = line.split("\t", 3)
      d.toInt -> ((mn.toFloat, mx.toFloat))
    }.sortBy(_._1).map(_._2)
  }

  /** Inverse of [[savePqCodebooks]]. */
  def loadPqCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[(Int, Seq[Float])]] = {
    val fs = graft.core.HadoopFs.forPath(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    val text =
      try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
    text.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(j, code, vs) = line.split("\t", 3)
      (j.toInt, code.toInt, vs.split(",").toSeq.map(_.toFloat))
    }.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(r => r._2 -> r._3) }
  }

  /** Persist an OPQ dimension permutation — the third index sidecar
    * (alongside centroids and codebooks) for a stored OPQ-space index:
    * stored buckets/codes are meaningless without the permutation that
    * produced them, and queries must be permuted with the SAME sidecar
    * at retrieval time. Lines are `newPos<TAB>oldDim` — pure ints, so
    * the round trip is exact by construction. Same frozen contract as
    * every sidecar: re-deriving the permutation (corpus drift changes
    * variances) invalidates every stored code — rebuild, don't append. */
  def savePermutation(
      spark: org.apache.spark.sql.SparkSession, path: String,
      perm: Seq[Int]): Unit = {
    val fs = graft.core.HadoopFs.forPath(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(perm.zipWithIndex.map { case (oldDim, newPos) =>
      s"$newPos\t$oldDim"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Inverse of [[savePermutation]]. */
  def loadPermutation(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[Int] = {
    val fs = graft.core.HadoopFs.forPath(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    val text =
      try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
    text.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(p, d) = line.split("\t", 2)
      p.toInt -> d.toInt
    }.sortBy(_._1).map(_._2)
  }

  /** [[writeIndexBatch]] for an OPQ index (FAISS `OPQm,IVFx,PQm` shape):
    * the batch's vectors are permuted into OPQ space FIRST, then
    * bucketed and coded — so the stored `embedding`, `bucket`, and
    * `pq_code` columns all live in OPQ space and retrieval
    * ([[ivfPqTopKStored]]) runs entirely there with permuted queries
    * (cosines are permutation-invariant, so results equal the
    * unpermuted index's exact rerank). Centroids and codebooks must
    * have been trained on PERMUTED vectors; all three sidecars
    * ([[savePermutation]], [[saveCentroids]], [[savePqCodebooks]])
    * travel with the index and are loaded per batch. */
  def writeIndexBatchOpq(
      ps: graft.storage.PartStore, part: String,
      batch: DataFrame, idCol: String, vecCol: String,
      perm: Seq[Int],
      centroids: Seq[(Int, Seq[Float])],
      codebooks: Seq[Seq[(Int, Seq[Float])]], modified: Long): Unit =
    writeIndexBatch(ps, part, permuteVectors(batch, vecCol, perm),
      idCol, vecCol, centroids, codebooks, modified)

  /** Persist a dense OPQ rotation matrix ([[opqRotationPca]] /
    * [[opqRotationNonParametric]]) — the sidecar that makes the DENSE
    * rotation storable the way q160 made the permutation storable:
    * without it the rotation retrains per run and any stored rotated
    * index is unreadable next session. Lines are
    * `row<TAB>v1,v2,...` with `Float.toString` values — Java guarantees
    * `parseFloat(toString(f)) == f`, so the round trip is bit-exact and
    * codes from a loaded rotation equal codes from the trained one
    * (the [[saveSqParams]] contract). Frozen like every sidecar:
    * re-deriving R invalidates every stored code — rebuild, don't
    * append. */
  def saveRotation(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rot: Seq[Seq[Float]]): Unit = {
    val fs = graft.core.HadoopFs.forPath(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(rot.zipWithIndex.map { case (row, i) =>
      s"$i\t${row.mkString(",")}"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Inverse of [[saveRotation]]. */
  def loadRotation(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Float]] = {
    val fs = graft.core.HadoopFs.forPath(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    val text =
      try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
    text.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(i, vs) = line.split("\t", 2)
      i.toInt -> vs.split(",").toSeq.map(_.toFloat)
    }.sortBy(_._1).map(_._2)
  }

  /** [[writeIndexBatchOpq]]'s dense-rotation sibling: the batch's
    * vectors are rotated into OPQ space first, then bucketed and coded —
    * centroids and codebooks must have been trained on ROTATED vectors
    * (for the non-parametric pair, the codebooks
    * [[opqRotationNonParametric]] returns, which are jointly optimized
    * with R). Four sidecars travel with the index: [[saveRotation]],
    * [[saveCentroids]], [[savePqCodebooks]] (+ SQ params when stacked).
    * Retrieval rotates queries with the loaded R and runs
    * [[ivfPqTopKStored]] entirely in rotated space (R is orthonormal,
    * so cosines — and therefore results — match the unrotated exact
    * rerank). */
  def writeIndexBatchRot(
      ps: graft.storage.PartStore, part: String,
      batch: DataFrame, idCol: String, vecCol: String,
      rot: Seq[Seq[Float]],
      centroids: Seq[(Int, Seq[Float])],
      codebooks: Seq[Seq[(Int, Seq[Float])]], modified: Long): Unit =
    writeIndexBatch(ps, part, rotateVectors(batch, vecCol, rot),
      idCol, vecCol, centroids, codebooks, modified)

  // ---- OPQ: orthogonal transforms before PQ (Ge et al. 2013, CVPR —
  // "Optimized Product Quantization", public) --------------------------

  /** Variance-balanced dimension permutation — the coordinate-space form
    * of OPQ's eigenvalue allocation: per-dimension variances over the
    * FULL corpus (fixed-point, so exact integers on any engine), dims
    * ranked by variance, allocated to the m subspaces in snake order so
    * every subspace receives an equal share of high-variance dims. A
    * permutation matrix is orthogonal, so this IS a rotation — one the
    * SQL oracle recomputes end-to-end (q103), unlike a dense PCA matrix
    * whose eigendecomposition SQL can't express. Fixes PQ's worst
    * failure mode at zero FLOP cost per vector: variance concentrated in
    * one subspace starves the other codebooks of signal.
    *
    * Variance ranking value: n·Σq² − (Σq)² with q = floor(x·2^s + 0.5) —
    * summed through decimal so no scale overflows it. Returns `perm`
    * with perm(newPos) = oldDim. Deterministic under any partitioning. */
  def opqPermutation(
      vectors: DataFrame, vecCol: String, m: Int, dim: Int,
      scaleBits: Int = 12): Seq[Int] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val scale = (1L << scaleBits).toDouble
    val stats = vectors
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("dim"),
        floor(col("x").cast("double") * scale + 0.5).cast("long").as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("s1"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("s2"))
      .collect()
    require(stats.length == dim,
      s"opqPermutation: corpus vectors have ${stats.length} dims, expected $dim")
    val ranked = stats.map { r =>
      val n = BigInt(r.getLong(1))
      val s1 = BigInt(r.getDecimal(2).toBigIntegerExact)
      val s2 = BigInt(r.getDecimal(3).toBigIntegerExact)
      (r.getInt(0), n * s2 - s1 * s1)
    }.sortWith { case ((d1, v1), (d2, v2)) =>
      if (v1 != v2) v1 > v2 else d1 < d2
    }
    val sub = dim / m
    val perm = new Array[Int](dim)
    ranked.zipWithIndex.foreach { case ((d, _), r) =>
      val row = r / m
      val c = r % m
      val j = if (row % 2 == 0) c else m - 1 - c // snake
      perm(j * sub + row) = d
    }
    perm.toIndexedSeq
  }

  /** Apply a dimension permutation: pure element shuffle (Float-exact, no
    * arithmetic), narrow plan. Orthogonal ⇒ norms, inner products, and
    * therefore every downstream cosine are unchanged; only the PQ
    * subspace grouping moves. */
  def permuteVectors(vectors: DataFrame, vecCol: String, perm: Seq[Int]): DataFrame =
    vectors.withColumn(vecCol, array(perm.map(d => col(vecCol).getItem(d)): _*))

  /** Dense OPQ rotation: PCA on the bounded deterministic sample
    * ([[codebookSample]] — the one driver collect, capped by sampleN) via
    * power iteration with deflation, then Ge et al.'s parametric
    * eigenvalue allocation — eigen-dims greedily assigned to the subspace
    * with the smallest current eigenvalue product (log-sum balanced), so
    * each subspace quantizes an equal share of the data's variance.
    * Everything is fixed-iteration driver-side double arithmetic from a
    * deterministic sample: the matrix is reproducible run to run, and
    * ships/persists like a codebook. Returns R as rows; `R · x` is the
    * rotated vector ([[rotateVectors]]); rows j·sub..(j+1)·sub-1 feed
    * subspace j. Spec-covered (orthogonality, determinism, reconstruction
    * error); the oracle-gated OPQ path is [[opqPermutation]] — SQL cannot
    * replay an eigendecomposition. */
  def opqRotationPca(
      vectors: DataFrame, idCol: String, vecCol: String, m: Int, dim: Int,
      sampleN: Int = 2048, powerIters: Int = 100): Seq[Seq[Float]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sample = codebookSample(vectors, idCol, vecCol, sampleN).map(_._2)
    require(sample.nonEmpty, "opqRotationPca: empty corpus")
    val n = sample.length
    val mean = Array.tabulate(dim)(d => sample.iterator.map(_(d).toDouble).sum / n)
    val cov = Array.ofDim[Double](dim, dim)
    sample.foreach { v =>
      val c = Array.tabulate(dim)(d => v(d) - mean(d))
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { cov(i)(j) += c(i) * c(j); j += 1 }
        i += 1
      }
    }
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) { cov(i)(j) /= n; j += 1 }
      i += 1
    }
    def matVec(a: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(dim)(r => {
        var s = 0.0; var c = 0
        while (c < dim) { s += a(r)(c) * v(c); c += 1 }
        s
      })
    def nrm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    // Gram-Schmidt against accepted eigvecs each step: deflation alone
    // lets numeric drift re-grow old components when the remaining
    // spectrum is near-degenerate (isotropic noise tail) — projection
    // keeps R orthonormal to ~1e-12 instead of ~1e-3
    def orthogonalize(v: Array[Double]): Array[Double] = {
      val w = v.clone()
      accepted.foreach { u =>
        val d = w.zip(u).map { case (a, b) => a * b }.sum
        var i = 0
        while (i < dim) { w(i) -= d * u(i); i += 1 }
      }
      w
    }
    val eig = (0 until dim).map { _ =>
      // deterministic start: basis vector of the current largest diagonal
      val start = (0 until dim).maxBy(d => cov(d)(d) -> -d)
      var v = {
        val b = orthogonalize(
          Array.tabulate(dim)(d => if (d == start) 1.0 else 0.0))
        val bn = nrm(b)
        if (bn > 1e-300) b.map(_ / bn)
        else Array.tabulate(dim)(d => if (d == start) 1.0 else 0.0)
      }
      var it = 0
      while (it < powerIters) {
        val w = orthogonalize(matVec(cov, v))
        val wn = nrm(w)
        if (wn > 1e-300) v = w.map(_ / wn) // else: eigenvalue ~0, keep v
        it += 1
      }
      val lambda = {
        val w = matVec(cov, v)
        v.zip(w).map { case (a, b) => a * b }.sum
      }
      // deflate
      var r = 0
      while (r < dim) {
        var c = 0
        while (c < dim) { cov(r)(c) -= lambda * v(r) * v(c); c += 1 }
        r += 1
      }
      accepted += v
      (lambda, v)
    }
    // eigenvalue allocation: descending λ, greedy to the subspace with the
    // smallest log-product (ties → lowest subspace index); slots bounded
    val sub = dim / m
    val order = eig.sortBy { case (l, _) => -l }
    val logProd = Array.fill(m)(0.0)
    val filled = Array.fill(m)(0)
    val rows = Array.ofDim[Seq[Float]](dim)
    order.foreach { case (lambda, v) =>
      val j = (0 until m).filter(filled(_) < sub)
        .minBy(j => (logProd(j), j))
      rows(j * sub + filled(j)) = v.map(_.toFloat).toSeq
      logProd(j) += math.log(math.max(lambda, 1e-12))
      filled(j) += 1
    }
    rows.toIndexedSeq
  }

  /** Non-parametric OPQ (Ge et al. 2013 §3.1): alternating optimization
    * of the rotation and the codebooks on the bounded sample —
    *   encode(R·x) → retrain per-subspace codebooks → Procrustes-solve
    *   R = argmin ‖R·x − decode(encode(R·x))‖² = U·Vᵀ from the SVD of
    *   C·Xᵀ — repeated `iters` times from the PARAMETRIC init
    * ([[opqRotationPca]]), so iteration starts at the parametric error
    * and descends the actual quantization objective instead of the PCA
    * proxy. All driver-side double arithmetic on the deterministic
    * sample (SVD via eigendecomposition of MᵀM with the same
    * Gram-Schmidt-stabilized power iteration), so the matrix is
    * reproducible and ships like a codebook. Returns (R, codebooks in
    * the rotated space) — encode production data with
    * [[rotateVectors]] + these codebooks, NOT freshly trained ones (the
    * pair is jointly optimized). */
  def opqRotationNonParametric(
      vectors: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      dim: Int, sampleN: Int = 2048, iters: Int = 8, powerIters: Int = 100)
      : (Seq[Seq[Float]], Seq[Seq[(Int, Seq[Float])]]) = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val sample = codebookSample(vectors, idCol, vecCol, math.max(k, sampleN))
    require(sample.length >= k,
      s"corpus has only ${sample.length} vectors — cannot train $k codes")
    val xs = sample.map(_._2.map(_.toDouble).toArray)
    var r: Array[Array[Double]] =
      opqRotationPca(vectors, idCol, vecCol, m, dim, sampleN, powerIters)
        .map(_.map(_.toDouble).toArray).toArray
    var cbs: Seq[Seq[(Int, Seq[Float])]] = null
    def apply(rm: Array[Array[Double]], x: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += rm(i)(j) * x(j); j += 1 }
        s
      }
    def rotatedSample(rm: Array[Array[Double]]): Seq[(String, Seq[Float])] =
      sample.zip(xs).map { case ((id, _), x) =>
        (id, apply(rm, x).map(_.toFloat).toSeq)
      }
    // same deterministic trainer as pqCodebooksRefined: first-k seeds +
    // one Lloyd pass per slice
    def trainCbs(rotated: Seq[(String, Seq[Float])]): Seq[Seq[(Int, Seq[Float])]] =
      (0 until m).map { j =>
        val sliced = rotated.map { case (id, v) =>
          (id, v.slice(j * sub, (j + 1) * sub))
        }
        lloydOnce(sliced,
          sliced.take(k).map(_._2).zipWithIndex.map { case (v, i) => i -> v })
      }
    var it = 0
    while (it < iters) {
      // (1) codebooks on the rotated sample
      val rotated = rotatedSample(r)
      cbs = trainCbs(rotated)
      // (2) reconstruction targets in rotated space — assigner and
      // codebook lookup built ONCE per subspace, not per sample point
      // (the per-point form rebuilt the k-entry norm map n·m times)
      val assigns = (0 until m).map(j => driverAssign(cbs(j)))
      val cbMaps = (0 until m).map(j => cbs(j).toMap)
      val recon = rotated.map { case (_, v) =>
        (0 until m).flatMap { j =>
          val s = v.slice(j * sub, (j + 1) * sub)
          cbMaps(j)(assigns(j)(s))
        }.map(_.toDouble).toArray
      }
      // (3) Procrustes: M = Σ c·xᵀ; R = U·Vᵀ from M = U·Σ·Vᵀ
      val mMat = Array.ofDim[Double](dim, dim)
      xs.zip(recon).foreach { case (x, c) =>
        var a = 0
        while (a < dim) {
          var b = 0
          while (b < dim) { mMat(a)(b) += c(a) * x(b); b += 1 }
          a += 1
        }
      }
      r = procrustesRotation(mMat, powerIters)
      it += 1
    }
    // final half-step: the loop ends on a rotation update, so retrain the
    // codebooks against the RETURNED rotation — otherwise callers encode
    // R_new-rotated vectors with R_old-fitted codebooks and pay
    // quantization error above the alternation's objective (Ge et al. /
    // FAISS end on a codebook update for the same reason)
    cbs = trainCbs(rotatedSample(r))
    (r.map(_.map(_.toFloat).toSeq).toSeq, cbs)
  }

  /** Orthogonal factor U·Vᵀ of M's SVD — the Procrustes solution. V =
    * eigvecs of MᵀM (symmetric PSD; Gram-Schmidt-stabilized power
    * iteration), U columns = M·v/σ, with zero-σ columns completed by
    * Gram-Schmidt against the basis so U stays orthonormal. */
  private def procrustesRotation(
      mMat: Array[Array[Double]], powerIters: Int): Array[Array[Double]] = {
    val dim = mMat.length
    def matTmat: Array[Array[Double]] = {
      val out = Array.ofDim[Double](dim, dim)
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) {
          var s = 0.0; var t = 0
          while (t < dim) { s += mMat(t)(i) * mMat(t)(j); t += 1 }
          out(i)(j) = s; j += 1
        }
        i += 1
      }
      out
    }
    val a = matTmat
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val vs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    def orth(w: Array[Double], basis: Seq[Array[Double]]): Array[Double] = {
      val o = w.clone()
      basis.foreach { u =>
        val d = o.zip(u).map { case (p, q) => p * q }.sum
        var i = 0
        while (i < dim) { o(i) -= d * u(i); i += 1 }
      }
      o
    }
    (0 until dim).foreach { _ =>
      val start = (0 until dim).maxBy(d => a(d)(d) -> -d)
      var v = {
        val b = orth(Array.tabulate(dim)(d => if (d == start) 1.0 else 0.0),
          vs.toSeq)
        val bn = nrm(b)
        if (bn > 1e-300) b.map(_ / bn)
        else Array.tabulate(dim)(d => if (d == start) 1.0 else 0.0)
      }
      var itp = 0
      while (itp < powerIters) {
        val w = orth(Array.tabulate(dim) { rr =>
          var s = 0.0; var c = 0
          while (c < dim) { s += a(rr)(c) * v(c); c += 1 }
          s
        }, vs.toSeq)
        val wn = nrm(w)
        if (wn > 1e-300) v = w.map(_ / wn)
        itp += 1
      }
      val lambda = {
        var s = 0.0; var i = 0
        while (i < dim) {
          var c = 0; var row = 0.0
          while (c < dim) { row += a(i)(c) * v(c); c += 1 }
          s += v(i) * row; i += 1
        }
        s
      }
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { a(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
      vs += v
    }
    // U columns: M·v/σ, Gram-Schmidt completion where σ ≈ 0
    val us = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    vs.foreach { v =>
      val mv = Array.tabulate(dim) { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += mMat(i)(j) * v(j); j += 1 }
        s
      }
      val o = orth(mv, us.toSeq)
      val on = nrm(o)
      val u =
        if (on > 1e-10) o.map(_ / on)
        else {
          // σ ≈ 0: any unit vector orthogonal to the accepted U columns
          val cand = (0 until dim).iterator.map { d =>
            orth(Array.tabulate(dim)(i => if (i == d) 1.0 else 0.0), us.toSeq)
          }.find(nrm(_) > 1e-6).get
          cand.map(_ / nrm(cand))
        }
      us += u
    }
    // R = U·Vᵀ: R(i)(j) = Σ_t U(i, t)·V(j, t) — us/vs hold COLUMNS
    Array.tabulate(dim, dim) { (i, j) =>
      var s = 0.0; var t = 0
      while (t < dim) { s += us(t)(i) * vs(t)(j); t += 1 }
      s
    }
  }

  /** Rotate vectors by R (rows): out(i) = Σ_j R(i)(j)·x(j), computed in
    * double and rounded through Float so rotated vectors store exactly
    * like raw ones. Column-expression form — dim² literal multiplies per
    * row, the same codegen envelope as a k=dim [[ivfAssign]]; for
    * dim ≳ 128 prefer a broadcast-join formulation (the
    * [[pqEncodeArrayKeyed]] precedent). Orthogonal R preserves norms and
    * inner products, so downstream cosine semantics are unchanged. */
  def rotateVectors(
      vectors: DataFrame, vecCol: String, rot: Seq[Seq[Float]]): DataFrame =
    vectors.withColumn(vecCol,
      array(rot.map { row =>
        aggregate(
          zip_with(col(vecCol), typedlit(row),
            (x, w) => x.cast("double") * w.cast("double")),
          lit(0.0), (acc, x) => acc + x).cast("float")
      }: _*))

  /** Gaussian-plane variant — the production hash family. */
  def bucketedNeighborsGaussian(
      vectors: DataFrame, idCol: String, vecCol: String, nBits: Int, dim: Int,
      seed: Long, minCos: Double, maxBucket: Int = Int.MaxValue
  ): DataFrame =
    bucketedNeighborsBy(vectors, idCol, vecCol,
      gaussianBucket(col(vecCol), gaussianPlanes(nBits, dim, seed)), minCos, maxBucket)

  private def bucketedNeighborsBy(
      vectors: DataFrame, idCol: String, vecCol: String, bucketCol: Column,
      minCos: Double, maxBucket: Int
  ): DataFrame = {
    val b0 = vectors.select(col(idCol), col(vecCol),
      bucketCol.as("bucket"),
      norm(col(vecCol)).as("nrm"))
    val b =
      if (maxBucket == Int.MaxValue) b0
      else SkewOps.keepSmallKeys(b0, Seq("bucket"), maxBucket)
    val l = b.select(col(idCol).as("id1"), col(vecCol).as("v1"),
      col("bucket"), col("nrm").as("n1"))
    val r = b.select(col(idCol).as("id2"), col(vecCol).as("v2"),
      col("bucket"), col("nrm").as("n2"))
    l.join(r, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= minCos)
      .select("bucket", "id1", "id2", "cos")
  }

  /** Matryoshka two-stage retrieval (MRL, Kusupati et al. 2022, public):
    * shortlist by cosine over the first `prefixDim` dimensions — MRL
    * embeddings front-load information, so the prefix is a valid cheap
    * index costing prefixDim/dim of the flops — then exact full-dim
    * rerank of the shortlist only. The dimension-truncation analogue of
    * the SQ/BQ estimate-then-rerank rungs; at 100 TB stage 1 rides the
    * same bucketed/IVF candidate paths (identical operator shapes, just
    * shorter vectors). Returns (query_id, neighbor_id, rank, cos) with
    * full-dimension cosines. */
  def matryoshkaTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      prefixDim: Int, k: Int, shortlist: Int): DataFrame = {
    requireIntegralId(corpus, idCol, "matryoshkaTopK")
    require(prefixDim > 0 && k > 0 && shortlist >= k,
      s"matryoshkaTopK: need prefixDim>0, 0<k<=shortlist, got ($prefixDim, $k, $shortlist)")
    def trunc(df: DataFrame): DataFrame =
      df.select(col(idCol), slice(col(vecCol), 1, prefixDim).as(vecCol))
    val cand = bruteForceTopK(trunc(queries), trunc(corpus), idCol, vecCol, shortlist)
      .select("query_id", "neighbor_id")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qv"), norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("cv"), norm(col(vecCol)).as("cn"))
    val scored = cand.join(q, "query_id").join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    topKByQuery(scored, k)
  }

  /** Hard-negative mining for contrastive/embedding training (the DPR/
    * ANCE data-prep step, public practice): for each anchor, the top `k`
    * candidates whose cosine lies in the half-open band
    * [minCos, maxCos) — similar enough to be informative negatives,
    * strictly below the near-duplicate ceiling that would poison training
    * with false negatives. Candidates come from the hyperplane-bucket
    * join (Σ|bucket|² bounded, `maxBucket`-capped like every LSH path
    * here), so mining is sub-quadratic at any corpus size; each unordered
    * bucket pair is scored once and both orientations feed the bounded
    * per-anchor top-k. Returns (anchor_id, negative_id, rank, cos). */
  def hardNegatives(
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, minCos: Double, maxCos: Double, nBits: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    requireIntegralId(vectors, idCol, "hardNegatives")
    require(minCos < maxCos, s"hardNegatives: empty band [$minCos, $maxCos)")
    val band = bucketedNeighbors(vectors, idCol, vecCol, nBits, minCos, maxBucket)
      .filter(col("cos") < maxCos)
    val sym = band.select(explode(array(
        struct(col("id1").as("query_id"), col("id2").as("neighbor_id"), col("cos")),
        struct(col("id2").as("query_id"), col("id1").as("neighbor_id"), col("cos"))))
        .as("p"))
      .select(col("p.query_id").as("query_id"),
        col("p.neighbor_id").as("neighbor_id"), col("p.cos").as("cos"))
    topKByQuery(sym, k)
      .select(col("query_id").as("anchor_id"), col("neighbor_id").as("negative_id"),
        col("rank"), col("cos"))
  }

  /** kNN label assignment (semi-supervised curation): each vector gets the
    * MAJORITY label of its k nearest labeled seeds, ties broken toward the
    * smallest label. Fully deterministic: the neighbor set comes from the
    * exact (cos desc, id asc) top-k and the vote is integer counts — no
    * float comparison survives into the output. Returns
    * (idCol, predicted_label, votes).
    *
    * Scale shape: inherits bruteForceTopK's broadcast + bounded-top-k plan
    * (swap in [[bucketedNeighborsGaussian]] candidates for a 100 TB seed
    * set); the vote is two map-side-combined aggregates on (query, label)
    * then query. */
  def knnLabel(
      queries: DataFrame, seeds: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    val topk = bruteForceTopK(
      queries.select(col(idCol), col(vecCol)),
      seeds.select(col(idCol), col(vecCol)), idCol, vecCol, k)
    val voted = topk
      .join(seeds.select(col(idCol).as("neighbor_id"), col(labelCol).as("__lbl")),
        "neighbor_id")
      .groupBy(col("query_id"), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
    // Majority with smallest-label tie-break for ANY orderable label type:
    // ONE sorted fold over the per-query (votes, label) list — negating the
    // label into a max(struct) would only work for numeric labels (a string
    // label would cast to NULL and every prediction would be NULL).
    // Per-query state is bounded by k distinct labels.
    voted.groupBy("query_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("__lbl"), col("votes")))),
        struct(lit(null).cast(voted.schema("__lbl").dataType).as("lbl"),
          lit(0L).as("v")),
        (acc, x) => when(x.getField("votes") > acc.getField("v"),
          struct(x.getField("__lbl").as("lbl"), x.getField("votes").as("v")))
          .otherwise(acc)).as("m"))
      .select(col("query_id").as(idCol),
        col("m.lbl").as("predicted_label"), col("m.v").as("votes"))
  }

  // ------------------------------------------------------------------
  // Scalar quantization (SQ8): the third compression rung next to PQ.
  // Public analogue: FAISS IndexScalarQuantizer QT_8bit — each dimension
  // is affinely mapped to one uint8 code against per-dim (min, max)
  // trained over the full corpus. 4× compression vs float32 at far
  // higher fidelity than PQ's m codes; the scan stays a per-dim affine
  // decode (pure ALU), so SQ is the right rung when IO — not CPU — is
  // the retrieval bottleneck and PQ's 32× compression over-quantizes.
  // ------------------------------------------------------------------

  /** Scalar-quantizer training: per-dimension (min, max) over the FULL
    * corpus. One posexplode + min/max aggregate — map-side combined,
    * shuffle ≤ dim·|partitions| partials, `dim` rows collected (the same
    * bounded driver-side collect as a codebook). min/max are
    * order-insensitive, so the params are partition-invariant by
    * construction — no fixed-point machinery needed. */
  def sqParams(
      vectors: DataFrame, vecCol: String, dim: Int): Seq[(Float, Float)] = {
    val rows = vectors
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .collect()
    require(rows.length == dim,
      s"sqParams saw ${rows.length} distinct dims, expected $dim — ragged " +
        "or empty vectors cannot train a scalar quantizer")
    rows.map(r => r.getInt(0) -> ((r.getFloat(1), r.getFloat(2))))
      .sortBy(_._1).map(_._2)
  }

  /** Per-dim uint8 code column: `clamp(floor((x − mn)/(mx − mn)·255 + ½))`,
    * all-double arithmetic (Float→Double casts are exact, so the codes are
    * bit-identical across engines). A constant dimension (mx = mn) codes
    * to 0 and decodes back to mn exactly. */
  def sqCode(vec: Column, params: Seq[(Float, Float)]): Column = {
    val mns = typedLit(params.map(_._1.toDouble))
    val mxs = typedLit(params.map(_._2.toDouble))
    transform(vec, (x, i) => {
      val mn = element_at(mns, i + 1)
      val mx = element_at(mxs, i + 1)
      when(mx === mn, lit(0.0))
        .otherwise(least(greatest(
          floor((x.cast("double") - mn) / (mx - mn) * lit(255.0) + lit(0.5)),
          lit(0.0)), lit(255.0)))
        .cast("smallint")
    })
  }

  /** Encode a corpus: (idCol, sq_code array<smallint>) — the storable
    * index column, 1 byte of information per dimension. */
  def sqEncode(
      vectors: DataFrame, idCol: String, vecCol: String,
      params: Seq[(Float, Float)]): DataFrame =
    vectors.select(col(idCol), sqCode(col(vecCol), params).as("sq_code"))

  /** Reconstruction column: `v̂_d = mn_d + code_d·(mx_d − mn_d)/255` as
    * array<double> — the asymmetric-distance corpus side. */
  def sqDecode(codeCol: Column, params: Seq[(Float, Float)]): Column = {
    val mns = typedLit(params.map(_._1.toDouble))
    val steps = typedLit(params.map { case (mn, mx) =>
      (mx.toDouble - mn.toDouble) / 255.0
    })
    transform(codeCol, (c, i) =>
      element_at(mns, i + 1) + c.cast("double") * element_at(steps, i + 1))
  }

  /** Asymmetric scalar-quantizer retrieval: queries keep full vectors, the
    * corpus is represented ONLY by its uint8 codes — each candidate pays a
    * per-dim affine decode and one double fold (est = cos(q, v̂)), the
    * ≤`shortlist` best estimates per query pay the exact full-vector
    * cosine ([[shortlistExactRerank]]).
    *
    * Scale shape: the small query side (with precomputed norms) is
    * broadcast and the code table streams — ONE scan of m-byte rows per
    * retrieval, no shuffle until the bounded top-k partials
    * (|queries|·shortlist·|partitions| rows). The decode per (query,
    * candidate) pair is recomputed rather than materialized: decoded
    * doubles are 8× the codes' bytes, so caching them would spill the very
    * IO the codes saved; at 100 TB the scan is IO-bound and the affine
    * ALU rides free. Compose with the IVF gate exactly like
    * [[ivfPqTopK]] when a full scan per query is too much.
    * Returns (query_id, neighbor_id, rank, cos) — exact cosines,
    * SQ-selected candidates. */
  def sqTopK(
      queries: DataFrame, codes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, params: Seq[(Float, Float)], k: Int,
      shortlist: Int): DataFrame = {
    requireIntegralId(codes, idCol, "sqTopK")
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"))
      // zero-norm queries have no defined cosine (the oracle's qn > 0
      // guard — same contract as adcDistanceTable)
      .filter(col("__qn") > 0d)
    val est = codes
      .select(col(idCol).as("neighbor_id"),
        sqDecode(col("sq_code"), params).as("__dv"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqEstCos(col("__qv"), col("__qn"), col("__dv")).as("est_cos"))
      .filter(!isnan(col("est_cos")))
    shortlistExactRerank(est, queries, corpus, idCol, vecCol, k, shortlist)
  }

  /** cos(q, v̂) — the SQ estimate both the flat scan and the IVF-gated
    * path rank by: `sdot / (qn · √(v̂·v̂))`, mirrored verbatim by the
    * oracle's este arithmetic. Uses the codegen'd [[dot]] (FloatVectorDot
    * handles mixed float/double arrays with the same left-to-right double
    * fold as the HOF form — bit-identical, spec-asserted) so the per-pair
    * estimate loop stays inside whole-stage codegen. */
  private def sqEstCos(qv: Column, qn: Column, dv: Column): Column =
    dot(qv, dv) / (qn * sqrt(dot(dv, dv)))

  /** IVF-gated scalar-quantizer retrieval (the FAISS
    * `IndexIVFScalarQuantizer` composition): probe the `nProbe` nearest
    * cells per query, SQ-estimate ONLY corpus vectors assigned to those
    * cells, exact-rerank the shortlist. Completes the gate × estimator
    * matrix — IVF gates full vectors ([[ivfTopK]]), PQ codes
    * ([[ivfPqTopK]]), and SQ codes (here) through the same probe-cell
    * equi-join; candidates ∝ corpus·nProbe/|cells| per query, each paying
    * an affine decode + one fold instead of a full-vector cosine. With
    * `nProbe = |centroids|` the result equals [[sqTopK]] exactly
    * (spec-asserted). */
  def ivfSqTopK(
      queries: DataFrame, codes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[(Int, Seq[Float])],
      params: Seq[(Float, Float)], k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    requireIntegralId(codes, idCol, "ivfSqTopK")
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"),
        ivfBucket(col(vecCol), centroids).as("__bucket"))
      .join(codes.select(col(idCol).as("neighbor_id"), col("sq_code")),
        Seq("neighbor_id"))
    ivfSqAssigned(queries, assigned, corpus, idCol, vecCol, centroids,
      params, k, nProbe, shortlist)
  }

  /** [[ivfSqTopK]] against a STORED index frame carrying both the bucket
    * column and the SQ code array ([[writeIndexBatchSq]] output) —
    * [[ivfPqTopKStored]]'s contract for the SQ rung: nothing is
    * recomputed at read time; the caller owns centroid/param/column
    * consistency (persist both sidecars, [[saveSqParams]]). */
  def ivfSqTopKStored(
      queries: DataFrame, index: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, bucketCol: String, codeCol: String,
      centroids: Seq[(Int, Seq[Float])], params: Seq[(Float, Float)],
      k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    requireIntegralId(index, idCol, "ivfSqTopKStored")
    val assigned = index.select(col(idCol).as("neighbor_id"),
      col(bucketCol).cast("int").as("__bucket"), col(codeCol).as("sq_code"))
    ivfSqAssigned(queries, assigned, corpus, idCol, vecCol, centroids,
      params, k, nProbe, shortlist)
  }

  private def ivfSqAssigned(
      queries: DataFrame, assigned: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[(Int, Seq[Float])],
      params: Seq[(Float, Float)], k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .withColumn("__qn", norm(col("__qv")))
      .filter(col("__qn") > 0d)
    val est = assigned
      .withColumn("__dv", sqDecode(col("sq_code"), params))
      .join(broadcast(probes), Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqEstCos(col("__qv"), col("__qn"), col("__dv")).as("est_cos"))
      .filter(!isnan(col("est_cos")))
    shortlistExactRerank(est, queries, corpus, idCol, vecCol, k, shortlist)
  }

  // ------------------------------------------------------------------
  // Binary quantization (BQ): 1 bit per dimension — the 32× compression
  // floor under SQ8's 4× and PQ's configurable middle. Public analogue:
  // FAISS IndexBinaryFlat / sign-bit hashing (Charikar 2002 hyperplane
  // sketch with the coordinate planes). The estimate is the Hamming
  // AGREEMENT between sign patterns — pure integer ops (XOR + popcount),
  // so the oracle replays it exactly; the shortlist pays the exact
  // cosine like every other compressed rung.
  // ------------------------------------------------------------------

  /** Sign-bit code words: bit `d % 32` of word `d / 32` is set iff
    * `x_d > 0` — 32 dims per BIGINT word, a trailing partial word for
    * dim % 32 ≠ 0 (zip_with's null padding contributes no bit). No
    * training, no parameters: the code is a pure function of the vector,
    * so incremental appends never invalidate existing codes. */
  def bqCode(vec: Column, dim: Int): Column = {
    val nWords = (dim + 31) / 32
    val weights = typedLit((0 until 32).map(1L << _))
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(
        zip_with(slice(vec, w * lit(32) + 1, lit(32)), sequence(lit(1), lit(32)),
          (x, j) => when(x > lit(0f), element_at(weights, j))
            .otherwise(lit(0L))),
        lit(0L), (a, x) => a + x))
  }

  /** Encode a corpus: (idCol, bq_code array<bigint>) — dim/8 bytes of
    * information per vector. */
  def bqEncode(
      vectors: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame =
    vectors.select(col(idCol), bqCode(col(vecCol), dim).as("bq_code"))

  /** Binary-quantized retrieval: est = dim − Hamming(sign(q), sign(c)) —
    * the count of dimensions whose signs agree, a monotone proxy for
    * angular similarity (Goemans–Williamson: P[signs agree] =
    * 1 − θ/π). Integer arithmetic end to end until the exact rerank, so
    * estimates are bit-identical on any engine and any partitioning.
    * Ties (est is one of dim+1 values) break toward the smaller
    * neighbor id in the shortlist, deterministically.
    *
    * Scale shape: identical to [[sqTopK]] — broadcast query codes, ONE
    * streaming scan of dim/8-byte corpus codes, XOR+popcount per pair
    * (cheapest estimate of any rung), bounded top-k partials, exact
    * cosine only for the ≤`shortlist` survivors. The crude estimate
    * needs a wider shortlist than SQ8's for equal recall — measured in
    * the spec — which is the standing BQ trade: 8× less IO than SQ8,
    * more rerank candidates. */
  def bqTopK(
      queries: DataFrame, codes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, shortlist: Int): DataFrame = {
    requireIntegralId(codes, idCol, "bqTopK")
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      // zero-norm queries have no defined cosine — the same guard as
      // every retrieval entry point (the oracle's qn > 0)
      .filter(norm(col("__qv")) > 0d)
      .select(col("query_id"), bqCode(col("__qv"), dim).as("__qc"))
    val est = codes
      .select(col(idCol).as("neighbor_id"), col("bq_code").as("__cc"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        bqAgreement(col("__qc"), col("__cc"), dim).as("est_cos"))
    shortlistExactRerank(est, queries, corpus, idCol, vecCol, k, shortlist)
  }

  /** Hamming agreement `dim − popcount(q XOR c)` — the BQ estimate both
    * the flat scan and the IVF-gated path rank by; integer until the
    * final double cast, so bit-identical on any engine. */
  private def bqAgreement(qc: Column, cc: Column, dim: Int): Column =
    (lit(dim) - aggregate(
      zip_with(qc, cc, (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
      lit(0L), (acc, x) => acc + x)).cast("double")

  /** IVF-gated binary-quantized retrieval (FAISS `IndexBinaryIVF`'s
    * composition, cosine-framed): probe `nProbe` cells, Hamming-agreement
    * estimate ONLY the probed cells' sign codes, exact-rerank the
    * shortlist. The last cell of the gate × estimator matrix (full
    * vectors / PQ / SQ / BQ all gate through the same probe-cell
    * equi-join); per-candidate work drops to one XOR+popcount over
    * dim/8 bytes. With `nProbe = |centroids|` the result equals
    * [[bqTopK]] exactly (spec-asserted). */
  def ivfBqTopK(
      queries: DataFrame, codes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[(Int, Seq[Float])], dim: Int, k: Int,
      nProbe: Int, shortlist: Int): DataFrame = {
    requireIntegralId(codes, idCol, "ivfBqTopK")
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .filter(norm(col("__qv")) > 0d)
      .withColumn("__qc", bqCode(col("__qv"), dim))
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"),
        ivfBucket(col(vecCol), centroids).as("__bucket"))
      .join(codes.select(col(idCol).as("neighbor_id"), col("bq_code")),
        Seq("neighbor_id"))
    val est = assigned.join(broadcast(probes), Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        bqAgreement(col("__qc"), col("bq_code"), dim).as("est_cos"))
    shortlistExactRerank(est, queries, corpus, idCol, vecCol, k, shortlist)
  }

  // ------------------------------------------------------------------
  // Range search: ALL neighbors above a similarity threshold (the FAISS
  // `range_search` analogue) — the retrieval shape top-k can't express:
  // result size is data-driven (every duplicate cluster member, every
  // in-radius match), not a fixed k.
  // ------------------------------------------------------------------

  /** Exact cosine range search: every (query, corpus) pair with
    * cos ≥ `minCos`, excluding self-matches and zero-norm vectors (whose
    * cosine is undefined — both engines would otherwise rank the NaN
    * ABOVE the threshold, since Spark and most SQL engines order NaN
    * greatest). Returns (query_id, neighbor_id, cos).
    *
    * Scale shape: the small query side is broadcast with precomputed
    * norms and the corpus streams — one scan, no shuffle at all (the
    * threshold filter is evaluated map-side and survivors flow straight
    * out). This is the exactness anchor; gate a 100 TB corpus with
    * [[rangeSearchIvf]] or the LSH buckets first. */
  def rangeSearch(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      minCos: Double): DataFrame = {
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"))
      .filter(col("__qn") > 0d)
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"))
      .filter(col("__cn") > 0d)
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("__qv"), col("__cv")) /
        (col("__qn") * col("__cn")))
      .filter(col("cos") >= minCos)
      .select("query_id", "neighbor_id", "cos")
  }

  /** IVF-gated range search: only corpus vectors in each query's `nProbe`
    * nearest cells pay the exact cosine + threshold test. Approximate the
    * same way [[ivfTopK]] is — an in-radius neighbor assigned to an
    * unprobed cell is missed — and every returned row passes the EXACT
    * threshold, so the result is always a subset of [[rangeSearch]]'s
    * (spec-asserted, with measured recall on clustered data). Candidates
    * ∝ corpus·nProbe/|cells| per query instead of the full scan. */
  def rangeSearchIvf(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])], minCos: Double,
      nProbe: Int): DataFrame = {
    val probed = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .withColumn("__qn", norm(col("__qv")))
      .filter(col("__qn") > 0d)
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"),
        ivfBucket(col(vecCol), centroids).as("__bucket"))
      .filter(col("__cn") > 0d)
      .join(broadcast(probed), Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("__qv"), col("__cv")) /
        (col("__qn") * col("__cn")))
      .filter(col("cos") >= minCos)
      .select("query_id", "neighbor_id", "cos")
  }
}
