package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components over an undirected edge list — the clustering step a
  * dedup pipeline needs between "near-dup PAIRS" (Jaccard/MinHash/SimHash
  * emit edges) and "keep one doc per GROUP": duplicate classes are the
  * components of the pair graph, and the canonical survivor is each
  * component's minimum id.
  *
  * Algorithm: the input is canonicalized once (u >= v, distinct,
  * checkpointed), and the scalar aggregate that fingerprints its non-loop
  * edges also counts all of its rows, self-loops included. That row count
  * picks one of two paths:
  *
  *   - up to `SingleTaskMaxRows` (2^20, measured — see its comment), ONE
  *     task labels the whole graph: the checkpoint is coalesced to a single
  *     partition and a union-find over the sorted distinct ids keeps the
  *     smaller root on union, so each root is its component's minimum id.
  *     No shuffle, no loop; the rounds count is 0. The catalog's and the
  *     benchmark's dedup graphs (tens to hundreds of edges up to sf0.1)
  *     all take this path;
  *   - above it, large-star / small-star alternation (Kiveris et al.,
  *     "Connected Components in MapReduce and Beyond", SoCC'14).
  *
  * Both give identical labels (spec-pinned differentially). Each star
  * round applies two edge-rewriting operations:
  *
  *   - large-star(u): let m = min(Γ(u) ∪ {u}); replace every edge to a
  *     STRICTLY LARGER neighbor v with (v, m) — large nodes get re-hung off
  *     the local minimum, halving long chains,
  *   - small-star(u): over (big → small)-oriented edges, let m = min of u's
  *     smaller neighbors; re-hang those neighbors AND u itself off m —
  *     collapsing shallow trees into stars.
  *
  * The edge set converges to a disjoint union of stars rooted at each
  * component's minimum id in O(log n) rounds on ANY graph — including the
  * pathological chain shapes (boilerplate with incremental counters) that
  * make plain min-label propagation need diameter-many rounds. A dense
  * near-clique dedup cluster still converges in ~2 rounds, so the common
  * case pays nothing for the worst-case guarantee.
  *
  * Scale shape: the single-task path holds O(rows) longs in one task, at
  * most 40 MiB at the bound (see `SingleTaskMaxRows`); a labeling fed back
  * as edges (`merge`), whose singletons are all self-loops, counts them
  * against the bound too, so a large one takes the star loop.
  * Above the bound the star loop keeps the 100 TB contract: each round is two
  * groupBy-min aggregates plus two self-equi-joins on vertex id — no
  * all-pairs step, no driver-side data; intermediate edge sets are
  * `distinct`-bounded by the current edge count. The per-round convergence
  * check is one scalar aggregate (count + order-independent xxhash64
  * checksum — an agg, not a collect). `localCheckpoint` truncates lineage
  * each round so the plan stays O(1) deep instead of growing by four joins
  * per iteration; the checkpoint blocks are freed by the ContextCleaner
  * once superseded.
  * Telemetry is logged to stderr per invocation — the path taken, with the
  * edge count, or the rounds and final star-edge count — so benchmark
  * rounds expose diameter drift in the corpus instead of discovering it
  * via a timeout.
  */
object ConnectedComponents {

  /** (id, component) for every vertex appearing in `edges`; `component` is
    * the minimum vertex id of the connected component. Edges are treated as
    * undirected; self-loops and duplicate edges are harmless.
    */
  def run(edges: DataFrame, src: String, dst: String,
          maxIters: Int = 30): DataFrame =
    runCounted(edges, src, dst, maxIters)._1

  /** Incremental update: fold a batch of NEW edges into an existing labeling
    * without reprocessing the original pair graph — the daily-ingestion twin
    * of [[run]], the way `Dedup.crossJaccardPairs`/`crossMinHashNearDups`
    * are the incremental twins of the self-join dedup operators.
    *
    * A previous run's `(id, component)` output is itself a star edge set
    * with exactly the old graph's connectivity, so merging is just [[run]]
    * over (labels-as-edges ∪ newEdges): per-day cost scales with
    * |vertices| + |batch edges|, never with the historical pair count —
    * at 100 TB the original edge list (quadratic-ish in cluster sizes) is
    * exactly what must not be re-read every day. New edges may mention brand
    * new vertices, extend an existing component, or bridge two existing
    * components (both adopt the smaller root); prior stars re-converge in
    * O(log n) rounds like any star-shaped input.
    *
    * Correctness contract (pinned by `ConnectedComponentsSpec`):
    * `merge(run(E1), E2)` produces exactly `run(E1 ∪ E2)` restricted to
    * vertices that appear in E1 or E2.
    */
  def merge(labels: DataFrame, idCol: String, compCol: String,
            newEdges: DataFrame, src: String, dst: String,
            maxIters: Int = 30): DataFrame =
    run(
      labels.select(col(idCol).as("__u"), col(compCol).as("__v"))
        .unionByName(newEdges.select(col(src).as("__u"), col(dst).as("__v"))),
      "__u", "__v", maxIters)

  /** FRONTIER-ONLY incremental fold — [[merge]] restricted to the
    * components the batch actually touches (round-16, the graph tier's
    * member of the fold family): a new edge can only relabel vertices
    * reachable from its endpoints, so any stored component containing NO
    * batch endpoint is already final and its labels pass through
    * untouched — never re-read by the star rounds. Affected components
    * are found with one semi-join of the batch's endpoints against the
    * labels (per-vertex, then per-component), the star rounds run over
    * (affected labels-as-edges ∪ batch edges) only, and the output is
    * the union. At 100 TB this is the difference that matters: [[merge]]
    * re-converges |vertices| star edges per day even when the batch
    * touches a handful of clusters; this folds |affected ∪ batch| — the
    * batch's own neighborhood — and the untouched billions ride a
    * pass-through scan. MEASURED REGIME BOUND (CcFoldProbe at sf1,
    * BENCH_SF1.json round16_updates): below ~1M stored labels the star
    * rounds are so cheap that the endpoint semi-joins cost more than the
    * restriction saves — use [[merge]] there; above it, merge's wall
    * grows linearly with the untouched mass (every label re-converged
    * per batch) while fold's grows sublinearly (one anti-join scan):
    * 1.6× faster at 10M untouched labels, 2.3× at 30M, widening with
    * scale. That crossover was measured when every [[run]] took the star
    * loop; small label sets now take the single-task path, and the
    * crossover has not been re-measured since.
    *
    * Output: (id, component, touched) — `touched` = 1 on rows the star
    * rounds re-derived (members of an affected component, plus vertices
    * the batch introduced), 0 on pass-through labels. Same correctness
    * contract as [[merge]], spec-pinned: dropping `touched`,
    * `fold(run(E1), E2)` equals `run(E1 ∪ E2)` on vertices of E1 ∪ E2.
    */
  def fold(labels: DataFrame, idCol: String, compCol: String,
           newEdges: DataFrame, src: String, dst: String,
           maxIters: Int = 30): DataFrame = {
    // ONE materialization of the batch-edge pipeline (round-16): the
    // edges feed three separate actions — the endpoint set below, the
    // merge's canon checkpoint, and (via touchedRoots) the `untouched`
    // anti-join evaluated at the caller's final action. A dedup batch's
    // edges come out of a multi-join pair generator (cross inverted
    // index), so the unmaterialized form re-ran that generator three
    // times (measured at sf0.1, q187 with the hashed-shingle grain:
    // 12.5 s → 5.2 s wall, 119 → 62 jobs for the two together). Batch-sized
    // by the fold contract, so the checkpoint is small by construction.
    val ne = newEdges.select(col(src).as("__s"), col(dst).as("__d"))
      .localCheckpoint(true)
    // the batch's endpoint set is batch-sized; the two semi-joins against
    // it are equi-joins on id/component (broadcast-able at daily-batch
    // scale, shuffle joins otherwise — never a scan of the pair history)
    val ends = ne.select(col("__s").as("__e"))
      .unionByName(ne.select(col("__d").as("__e")))
      .distinct()
    val lab = labels.select(col(idCol).as("id"), col(compCol).as("component"))
    val touchedRoots = lab
      .join(ends, lab("id") === col("__e"), "left_semi")
      .select(col("component").as("__root")).distinct()
    val affected = lab.join(touchedRoots,
      lab("component") === col("__root"), "left_semi")
    val untouched = lab.join(touchedRoots,
      lab("component") === col("__root"), "left_anti")
    merge(affected, "id", "component", ne, "__s", "__d", maxIters)
      .withColumn("touched", lit(1))
      .unionByName(untouched.withColumn("touched", lit(0)))
  }

  /** Vertex RETRACTION — the deletion half of the graph tier (round-16,
    * [[fold]]'s inverse posture; takedowns / opt-outs / license
    * revocations): remove `retracted` vertices and every incident edge
    * from a graph whose stored labeling is `labels`, re-deriving ONLY the
    * components a retraction touches.
    *
    * Unlike the model-state unfolds (`Similarity.kmeansUnfold` subtracts
    * exact sums), a label set alone is NOT invertible under deletion — a
    * retracted vertex may be a BRIDGE, splitting its component, and which
    * survivors stay connected depends on the component's internal edge
    * structure, which the stars discarded. So this unfold keys on the
    * STORED base edges (`edges`, persisted beside the labels in the
    * content-keyed store — the posture every fitted model in the
    * maintenance family already has), restricted to the frontier:
    *
    *   - touched roots: components containing a retracted id — one
    *     retraction-sized semi-join against the labels,
    *   - untouched components pass through with `touched` = 0, never read
    *     by the star rounds (their membership is unchanged, so their
    *     min-id root is unchanged — a retracted id in a component makes
    *     it touched by construction),
    *   - touched components re-derive from their surviving edges (both
    *     endpoints unretracted): [[run]] over that restricted set, plus
    *     singleton self-labels for surviving members whose every edge
    *     died — `touched` = 1 on all of them.
    *
    * The edge restriction is one pass-through scan of the stored edge
    * list (two anti-joins against the retraction set + one semi-join
    * against the affected members; an edge's endpoints share a component,
    * so filtering `src` suffices) — with edges bucketed by component in a
    * production store, partition pruning cuts even that scan to the
    * touched buckets. Retracted ids absent from the graph are harmless
    * no-ops (takedown lists routinely name docs that never entered the
    * pair graph); retracted ids vanish from the output.
    *
    * Correctness contract (pinned by `ConnectedComponentsSpec`): dropping
    * `touched`, `unfold(run(E), E, R)` equals `run(E')` ∪ singletons,
    * where E' = edges of E with neither endpoint in R and the singletons
    * are the vertices of E \ R that lost every edge — including genuine
    * SPLITS when a bridge vertex is retracted.
    */
  def unfold(labels: DataFrame, idCol: String, compCol: String,
             edges: DataFrame, src: String, dst: String,
             retracted: DataFrame, rCol: String,
             maxIters: Int = 30): DataFrame = {
    val retr = retracted.select(col(rCol).as("__r")).distinct()
    val lab = labels.select(col(idCol).as("id"), col(compCol).as("component"))
    val touchedRoots = lab
      .join(retr, lab("id") === col("__r"), "left_semi")
      .select(col("component").as("__root")).distinct()
    val untouched = lab.join(touchedRoots,
      lab("component") === col("__root"), "left_anti")
    // surviving members of touched components (the re-derive universe)
    val affected = lab.join(touchedRoots,
        lab("component") === col("__root"), "left_semi")
      .join(retr, lab("id") === col("__r"), "left_anti")
      .select(col("id"))
    // stored edges, restricted to touched components and stripped of
    // retracted endpoints — the only part of the history the stars re-read
    val e = edges.select(col(src).as("__u"), col(dst).as("__v"))
    val surviving = e
      .join(affected, e("__u") === affected("id"), "left_semi")
      .join(retr, e("__u") === col("__r"), "left_anti")
      .join(retr, e("__v") === col("__r"), "left_anti")
    val rerun = run(surviving, "__u", "__v", maxIters)
    // members whose every edge died re-label as their own singleton
    val isolated = affected.join(rerun, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    rerun.unionByName(isolated)
      .withColumn("touched", lit(1))
      .unionByName(untouched.withColumn("touched", lit(0)))
  }

  /** As [[run]], additionally returning the number of large+small-star
    * rounds executed until the edge-set fixpoint (telemetry / specs); 0
    * when the graph took the single-task path.
    */
  def runCounted(edges: DataFrame, src: String, dst: String,
                 maxIters: Int = 30): (DataFrame, Int) =
    runBounded(edges, src, dst, maxIters, SingleTaskMaxRows)

  /** Canonical row count (distinct edges, self-loops included) up to which
    * [[run]] labels in one task. Measured on a 4-core box at local[4]
    * (JobSession), random graphs of n rows over n vertices, labeling plus a
    * noop write, median of 3 (1 from 2^22):
    *
    *   rows    single task   star loop (rounds)
    *   10^3       0.32 s        3.74 s (5)
    *   10^4       0.26 s        3.39 s (6)
    *   10^5       0.49 s        5.51 s (6)
    *   2^20       2.05 s       24.96 s (7)
    *   2^21       4.54 s       49.88 s (7)
    *   2^22      11.48 s      107.95 s (7)
    *   10^7      34.83 s      260.26 s (7)
    *
    * The single task wins by 7-13x at every size, so speed sets no bound
    * below 10^7; memory does. The task's arrays are sized from the row
    * count: two endpoint longs and two id-array longs per row, plus an int
    * parent per distinct vertex (at most two per row), so at most 40 bytes
    * per row, 40 MiB at 2^20. That figure is arithmetic on the array sizes,
    * not a measured heap peak. It assumes Spark's default 1 GiB executor,
    * whose user memory is about 290 MB ((1 GiB - 300 MB reserved) x 0.4):
    * 2^20 stays well inside it, while 2^22 would take more than half.
    */
  private val SingleTaskMaxRows = 1L << 20

  /** [[runCounted]] with the path-selection bound as a parameter: the
    * star-loop specs pass a negative bound to reach the loop on small
    * graphs.
    */
  private[graft] def runBounded(edges: DataFrame, src: String, dst: String,
                                maxIters: Int,
                                singleTaskMaxRows: Long): (DataFrame, Int) = {
    requireLongIds(edges, src, dst)
    // ONE materialization of the (often expensive) upstream pipeline that
    // produced `edges` — a dedup pair generator here is a multi-join
    // inverted index, and the round-6 shape re-ran it twice by anchoring
    // two separate checkpoints on it (once for the vertex universe, once
    // for the working edge set). Canonical (u >= v) orientation, SELF-LOOPS
    // KEPT so isolated vertices survive into the labeling.
    val canon = edges.select(
        greatest(col(src), col(dst)).as("u"),
        least(col(src), col(dst)).as("v"))
      .distinct()
      .localCheckpoint(true)
    // small-star's contract: strictly (u > v)-oriented working set
    val loopFree = col("u") =!= col("v")
    val e = canon.where(loopFree)
    // one job: the row count the single task would hold, and the star
    // loop's starting fingerprint of `e` (as `fingerprint(e)` computes it)
    val r = canon.agg(
      count(lit(1)),
      count(when(loopFree, lit(1))),
      sum(when(loopFree,
        xxhash64(col("u"), col("v")).cast("decimal(38,0)")))).head()
    val (rows, cnt) = (r.getLong(0), r.getLong(1))
    if (rows <= singleTaskMaxRows) {
      System.err.println(
        s"[graft] ConnectedComponents: single task ($cnt edges, $rows rows)")
      (unionFindLabels(canon, rows.toInt), 0)
    } else starLoop(canon, e, cnt,
      Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO), maxIters)
  }

  /** The single-task union-find reads vertices as longs, and every caller
    * keys on long doc ids: anything else fails here, naming the column,
    * instead of inside an encoder. `merge`/`fold` reach this with their
    * union columns (`__u`, `__v`), which `unionByName` has already widened.
    */
  private def requireLongIds(df: DataFrame, cols: String*): Unit =
    cols.foreach { c =>
      val t = df.schema(c).dataType
      if (t != LongType)
        throw new IllegalArgumentException(
          s"ConnectedComponents: id column `$c` must be bigint, " +
            s"got ${t.simpleString}")
    }

  // order-independent fingerprint of the edge set: fixpoint when a full
  // large+small-star round leaves (count, Σ xxhash64(u,v)) unchanged.
  // DECIMAL(38) because a BIGINT sum of 64-bit hashes overflows silently;
  // a colliding non-equal set would terminate one round early — with a
  // 2^-64-per-round probability that is not a practical failure mode.
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(
      count(lit(1)),
      sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Single-task path: every canonical edge (self-loops included, so every
    * vertex is seen) goes to one partition — a coalesce, no shuffle — and a
    * union-find labels it there, in arrays sized from canon's `rows`.
    * Vertex index = rank in the sorted distinct id array, so keeping the
    * smaller root on union leaves each component's minimum id at its root;
    * find halves paths as it walks. An
    * all-NULL input edge is the one canon row with a NULL `u`, and it yields
    * a (NULL, NULL) row, as the star loop's vertex scan does.
    */
  private def unionFindLabels(canon: DataFrame, rows: Int): DataFrame =
    canon.coalesce(1).mapPartitions { it =>
      var nullEdge = false
      val u = new Array[Long](rows)
      val v = new Array[Long](rows)
      // canon is a checkpoint, so it holds exactly the `rows` counted
      var m = 0
      it.foreach { r =>
        if (r.isNullAt(0)) nullEdge = true
        else { u(m) = r.getLong(0); v(m) = r.getLong(1); m += 1 }
      }
      val ids = new Array[Long](2 * m)
      System.arraycopy(u, 0, ids, 0, m)
      System.arraycopy(v, 0, ids, m, m)
      java.util.Arrays.sort(ids)
      var n = 0
      for (i <- ids.indices)
        if (n == 0 || ids(i) != ids(n - 1)) {
          ids(n) = ids(i)
          n += 1
        }
      val parent = Array.range(0, n)
      def find(x: Int): Int = {
        var a = x
        while (parent(a) != a) {
          parent(a) = parent(parent(a))
          a = parent(a)
        }
        a
      }
      for (i <- 0 until m) {
        val a = find(java.util.Arrays.binarySearch(ids, 0, n, u(i)))
        val b = find(java.util.Arrays.binarySearch(ids, 0, n, v(i)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
      Iterator.range(0, n).map(i => Row(ids(i), ids(find(i)))) ++
        (if (nullEdge) Iterator.single(Row(null, null)) else Iterator.empty)
    }(Encoders.row(StructType(Seq(
      StructField("id", LongType), StructField("component", LongType)))))

  /** The large/small-star loop from `e0` = canon's non-loop edges, whose
    * fingerprint (`cnt0`, `sum0`) the caller already took.
    */
  private def starLoop(canon: DataFrame, e0: DataFrame, cnt0: Long,
                       sum0: java.math.BigDecimal,
                       maxIters: Int): (DataFrame, Int) = {
    // every vertex mentioned anywhere in the input: the star fixpoint drops
    // isolated vertices (self-loops, singletons), which must still appear
    // in the output labeled as their own component. Lazily derived from the
    // canon checkpoint — a block scan at the final join, never an upstream
    // recompute.
    val vertices = canon.select(col("u").as("id"))
      .unionByName(canon.select(col("v").as("id")))
      .distinct()

    // large-star: m = min(Γ(u) ∪ {u}); every strictly-larger neighbor v of
    // u is re-hung as (v, m). Output stays (bigger, smaller)-oriented
    // because v > u ≥ m. Symmetrization is a projection union, not a
    // shuffle; the shuffles are the groupBy(u) min and the join back (the
    // join's exchange of `sym` is plan-identical to the aggregate's and
    // reused). No trailing distinct: exactly one row emerges per undirected
    // input edge (the v > u side), so duplicates are bounded by the input
    // edge count and small-star's terminal distinct canonicalizes the
    // round anyway — dropping it removes one full-width exchange per round.
    def largeStar(in: DataFrame): DataFrame = {
      val sym = in.unionByName(in.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    // small-star: over (u > v)-oriented edges, m = min of u's smaller
    // neighbors; re-hang each smaller neighbor and u itself off m. The
    // (m, m) self-edge the relabel produces is filtered.
    def smallStar(in: DataFrame): DataFrame = {
      val mins = in.groupBy("u").agg(min("v").as("m"))
      in.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var e = e0
    var prevCnt = cnt0
    var prevSum = sum0
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // LAZY checkpoint: the fingerprint aggregate right below is the
      // round's only action and materializes the checkpoint as it runs —
      // one job per round instead of the eager form's two. Measured small
      // (q54 7.8 -> 7.6 s, q59 8.0 -> 7.7 s at sf0.1 — rounds are
      // shuffle-stage-bound, not job-count-bound) but strictly fewer jobs,
      // and on a busy 1000-executor cluster each saved job is a saved
      // scheduling round-trip per iteration.
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val (cnt, sm) = fingerprint(next)
      // next is materialized (the fingerprint aggregate ran); the
      // superseded round snapshot's blocks are dead — release eagerly
      // (ADVICE r11) instead of holding rounds-many edge copies until the
      // ContextCleaner sweeps. Round 0's `e` is a lazy Filter over the
      // canon checkpoint, which the release helper no-ops on — canon
      // itself stays live for the `vertices` scan.
      graft.ext.Caches.releaseLocalCheckpoint(e)
      converged = cnt == prevCnt && sm.compareTo(prevSum) == 0
      e = next
      prevCnt = cnt
      prevSum = sm
      iter += 1
    }
    // an unconverged edge set yields silently WRONG labels (one component
    // reported as several): refuse rather than return them. With O(log n)
    // convergence, 30 rounds covers any physically storable graph — hitting
    // the cap means a bug, not a big input.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters " +
          "large/small-star rounds — this should be impossible for any " +
          "real graph (O(log n) bound); suspect non-deterministic input")
    System.err.println(
      s"[graft] ConnectedComponents: converged in $iter rounds " +
        s"($prevCnt star edges)")

    // fixpoint edges are stars (non-root → component root); the defensive
    // groupBy-min costs one aggregate and guarantees one row per vertex
    // even if a future edit perturbs the fixpoint shape
    val roots = e.select(col("u").as("id"), col("v").as("component"))
      .groupBy("id").agg(min("component").as("component"))
    val labels = vertices.join(roots, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
    (labels, iter)
  }
}
