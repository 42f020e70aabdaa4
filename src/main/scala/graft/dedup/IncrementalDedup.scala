package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.state.SnapshotStore

/** Snapshot-over-snapshot near-dup dedup with checkpointed, resumable stages —
  * the engine's analogue of the reference's incremental checkpoint loop
  * (/root/reference/src/dedup_files.cpp:65-105).
  *
  * The dedup graph is keyed by CONTENT, not by document: a content unit
  * (ckey = content hash of normalized text) is immutable, so the content
  * (registry+features) and edge tables are APPEND-ONLY across snapshots —
  * each snapshot commits only its fresh rows and the cumulative table is the
  * committed range (an Iceberg partition-pruned scan). No state row is ever
  * invalidated when a url's text changes (the url just points at a different
  * content node). Committed tables per snapshot: pages_keyed, content,
  * edges, assignments, metrics (5; r5 had 7 — registry+features merged,
  * content_clusters derived). Per snapshot:
  *
  *   - FIXED fast path (F1/F2, basic_approach.cpp:36-44): urls whose ckey
  *     equals their previous snapshot's bypass all content work;
  *   - new ckeys register (first-presenting doc_id becomes the content_id —
  *     min-id election, J1/J2) and are shingled/banded ONCE ever;
  *   - LSH candidates: new bands vs the accumulated band index (the world is
  *     never re-banded; a content pair surfaces exactly once — when its newer
  *     member registers — so per-snapshot edge sets are disjoint and
  *     append-only) + exact-Jaccard verification;
  *   - connected components over ckey content nodes (ckey is the unique node
  *     identity; content_id alone is NOT unique — a revised url re-elects its
  *     own doc_id for the new content), relabeled to min content_id per
  *     component; documents inherit their content's cluster via one hash join.
  *
  * Every stage runs through [[SnapshotStore.stage]]: a killed job rerun with
  * the same store resumes after the last committed stage (north_rule
  * resumability; per-partition lineage lands in each stage manifest).
  */
object IncrementalDedup {
  /** Accumulated-content threshold for the driver-local candidate kernel.
    * Honest JVM footprint at the threshold (this number SIZES the
    * constant; r6 layout — features collected with primitive encoders,
    * keys derived driver-side, probe state in parallel long arrays,
    * boundedProbePairsLocalP): 64k contents × 1 KB signature ≈ 70 MB for
    * the collected feature rows (freed before the kernel runs), 64k × 52
    * keys × 16 B ≈ 55 MB for the two key/element long arrays, plus the
    * LongMap bucket buffers (~55 MB of unboxed Long ArrayBuffers) and the
    * emitted candidate tuples (bounded by candidates, not keys) —
    * ~200 MB transient peak on the 8 g driver heap. Beyond the threshold
    * the fused distributed kernel takes over (a 100-TB chain crosses this
    * in snapshot 0).
    */
  final val LOCAL_PROBE_MAX_CONTENTS: Long = 1L << 16

  /** Candidate-pair threshold for the driver-side exact-Jaccard verify +
    * zero-job edges commit. Sizing: ≤ 2·2¹⁶ distinct ckeys in the pruning
    * InSet (~1 MB of plan literals), one pruned (ckey, sh) collect of that
    * many rows (~500 ints each ≈ 130 MB worst-transient, typical ≪), and
    * ≤ 2¹⁶ sorted-merge intersections (~ms of driver CPU). Above it the
    * driver-computed candidates parallelize into the distributed verify —
    * the pre-r6.3 path, unchanged.
    */
  final val LOCAL_VERIFY_MAX_PAIRS: Int = 1 << 16

  /** Document threshold for the driver-side assignments join (label-map
    * lookup over the collected (doc_id, ckey) pairs): 2¹⁷ boxed pairs
    * ≈ 10 MB transient, one narrow collect replacing a broadcast-join
    * write job. Requires the local cluster labels to exist (same regime).
    */
  final val LOCAL_ASSIGN_MAX_ROWS: Long = 1L << 17

  import org.apache.spark.sql.types._
  private[graft] val edgesSchema = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false)))
  private[graft] val metricsSchema = StructType(Seq(
    StructField("snapshot", IntegerType, nullable = false),
    StructField("n_pages", LongType, nullable = false),
    StructField("n_changed", LongType, nullable = false),
    StructField("n_new_content", LongType, nullable = false),
    StructField("n_edges", LongType, nullable = false),
    StructField("n_assignments", LongType, nullable = false),
    StructField("elapsed_ms", LongType, nullable = false)))
  private[graft] val assignSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("cluster", LongType, nullable = false)))

  /** Driver relabel kernel for the small regime: union-find components over
    * the edge list, then min content_id per component — the pure form of
    * the distributed comps⋈registry→groupBy(min)→join-back relabel
    * (parity spec-gated in IncrementalDedupSpec against the forced
    * distributed star rounds). Returns (ckey, cluster) for every registry
    * row; singleton ckeys (no edges) label with their own content_id.
    */
  private[graft] def localClusterLabels(reg: Array[(Long, Long)],
                                        edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val comp = ConnectedComponents.localComponents(edges)
    val minCid = new java.util.HashMap[Long, Long]()
    for ((ck, cid) <- reg) {
      val root = comp.getOrElse(ck, ck)
      val cur = minCid.getOrDefault(root, Long.MaxValue)
      if (cid < cur) minCid.put(root, cid)
    }
    reg.map { case (ck, _) =>
      (ck, minCid.get(comp.getOrElse(ck, ck)).longValue)
    }
  }
}

final class IncrementalDedup(spark: SparkSession, store: SnapshotStore,
                             cfg: DedupConfig = DedupConfig(),
                             /** rewrite each append-only table's full prefix
                               * into one compacted snapshot every this many
                               * snapshots — bounds readRange fan-in at chain
                               * depth (0 disables). */
                             compactEvery: Int = 4,
                             /** spec hook: false forces every small-regime
                               * driver dispatch (probe kernel, local verify,
                               * relabel, assignments) down the distributed
                               * path — the parity twin the specs compare
                               * committed tables against. */
                             localDispatch: Boolean = true) {

  /** Process snapshot `snap` of the pages table; returns (doc_id, cluster)
    * for this snapshot's documents. Idempotent.
    *
    * `expectedPages`: optional caller-known input row count — sizes the
    * first stage's committed file count (SnapshotStore small-output
    * coalescing); later stages size themselves from committed manifests.
    */
  def processSnapshot(snap: Int, pages: DataFrame,
                      expectedPages: Option[Long] = None): DataFrame = {
    val t0 = System.nanoTime()

    // NARROW state: the store never duplicates the text lake (the input
    // Iceberg table already holds it durably) — only (url, doc_id, ckey)
    // rows are committed; text is joined back from `pages` for the few
    // freshly registered contents below.
    // File-count sizing: caller hint, else the previous snapshot's manifest
    // count + the workload's ~10% growth — approxRows is only a file-count
    // sizer, an upper bound is fine.
    val keyedApprox = expectedPages.orElse(
      if (snap == 0) None
      else Some(math.max(1L, store.committedRows("pages_keyed", snap - 1) * 6 / 5)))
    val keyed = store.stage("pages_keyed", snap, approxRows = keyedApprox) {
      pages.select(col("url"), col("doc_id"),
        gf.contentKey64(col("text")).as("ckey"))
    }

    // F1/F2 fixed fast path: only urls with new/changed content continue.
    // DERIVED, never committed: both inputs (this and the previous
    // snapshot's pages_keyed) are committed stages, so the anti-join is
    // deterministic on resume — and at scale `changed` is the per-snapshot
    // WORK SET, the one table worth NOT writing a second copy of. It IS
    // persisted for the snapshot's duration (snap > 0): two consumers —
    // the registration anti-join under the content stage and the metrics
    // stage's A3 count — would otherwise each run the full anti-join; the
    // cache makes the second a narrow scan. Unpersisted before return.
    val changed =
      if (snap == 0) keyed.select("url", "doc_id", "ckey")
      else {
        val prev = store.read("pages_keyed", snap - 1)
          .select(col("url"), col("ckey").as("prev_ckey"))
        keyed.select("url", "doc_id", "ckey")
          .join(prev, Seq("url"), "left")
          .filter(col("prev_ckey").isNull || col("prev_ckey") =!= col("ckey"))
          .drop("prev_ckey")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }

    // Content registry (J1 insert-if-absent) + fused features in ONE
    // committed table (r6): ckey → (content_id, sig, sim64, sh). The r5
    // layout committed `registry` and `features` separately — two
    // write-job + rename + footer round-trips for rows that are 1:1 by
    // ckey; merging drops one commit per snapshot at the cost of one stage
    // of resume granularity. Featureless contents (empty text) keep a row
    // with NULL features: registration is what guarantees every document
    // an assignment, and explode(bands(NULL)) contributes zero probe keys.
    //
    // INVARIANT the cluster labels rely on: content_id is frozen at first
    // registration (min doc_id among the registering snapshot's changed
    // docs). A LOWER doc_id presenting an already-registered content in a
    // later snapshot (a url reverting to older text) keeps the original
    // content_id — pinned by IncrementalDedupSpec ("a LOWER doc_id
    // re-presenting registered content..."): no re-registration, labels
    // stay the frozen id and all holders share one cluster. The
    // pages_incremental_clusters oracle may elect cids globally (min doc_id
    // over ALL snapshots) only because the synthesized workload never
    // re-presents a content from a smaller doc_id.
    def contentUpTo(hi: Int): DataFrame =
      if (hi < 0) emptyReg()
      else store.readRange("content", 0, hi)
    val newContent =
      store.stage("content", snap,
        approxRows = Some(store.committedRows("pages_keyed", snap))) {
        // text comes from the electing document's INPUT row — the store
        // holds no text; shingles + MinHash + SimHash in one tokenization
        // pass per content (same kernel as the batch flagship). Features
        // are computed IN the registration projection: an empty text keeps
        // its registry row with NULL features via the `when` guard — the
        // same semantics the pre-r6.3 layout bought with a second
        // freshReg-vs-fused left join (one exchange + one persisted frame
        // cheaper per snapshot). Codegen CSE evaluates the struct once for
        // its three field reads.
        val fresh =
          changed.join(contentUpTo(snap - 1).select("ckey"), Seq("ckey"), "left_anti")
            .groupBy("ckey").agg(min("doc_id").as("content_id"))
        fresh
          .join(pages.select(col("doc_id").as("content_id"), col("text")),
            Seq("content_id"))
          .select(col("ckey"), col("content_id"),
            when(length(trim(col("text"))) > 0,
              gf.featureStruct(col("text"), cfg.shingleK, cfg.numPerm, cfg.seed))
              .as("f"))
          .select(col("ckey"), col("content_id"),
            col("f.sh").as("sh"), col("f.sig").as("sig"),
            col("f.sim64").as("sim64"))
      }
    val registry = contentUpTo(snap).select("ckey", "content_id")
    val newFeatures = newContent.select("ckey", "sig", "sim64", "sh")

    // ONE unified probe-key stream, exactly like the batch pipeline's
    // unioned key stream (NearDupPipeline): LSH band hashes (band index
    // already folded into each 64-bit hash) + SimHash block-combination
    // keys share the key space and the bounded probe. Keys are DERIVED from
    // the committed features table, never stored: banding a signature is a
    // few hashes per row, while a committed key table is ~52 rows per
    // content — deriving keeps the store's state linear in CONTENTS, drops
    // a commit+readback round-trip per snapshot, and stays resume-safe
    // because features (the input) is itself a committed stage and the
    // derivation is deterministic.
    def keysOf(features: DataFrame): DataFrame =
      features.select(col("ckey"),
          explode(gf.bands(col("sig"), cfg.bands)).as("key"))
        .unionByName(features.select(col("ckey"),
          explode(gf.simhashKeys(col("sim64"), cfg.simhashBlocks,
            cfg.simhashMaxHamming)).as("key")))

    // near-dup edges between content nodes — per-snapshot sets are disjoint
    // (a pair surfaces exactly when its newer member arrives, via either
    // probe family), so only the new edges are committed.
    //
    // SMALL dispatch (zero extra jobs to decide — content counts come from
    // the committed manifests): below LOCAL_PROBE_MAX_CONTENTS the whole key
    // stream fits in a few driver MB, and the candidate kernel runs as ONE
    // collect + local hash-group instead of ~6 sequential AQE query stages
    // of pure latency — the same small-input dispatch as the serial chunk
    // chain and the CC driver union-find; parity is spec-gated
    // (BoundedBucketSpec). When the candidate set is also small
    // (≤ LOCAL_VERIFY_MAX_PAIRS) the exact-Jaccard verify runs driver-side
    // too — one pruned sh collect, the same Impl.jaccardArr kernel — and
    // the edges commit is a zero-job LocalParquet write. Above the
    // thresholds the fused distributed kernel/verify run unchanged (a
    // 100-TB chain crosses them in snapshot 0).
    val newEdges = {
      val nContents = (0 to snap).map(s => store.committedRows("content", s)).sum
      // driver-computed candidates, normalized (a<b, distinct) — None when
      // already committed (resume: zero collects) or above the threshold
      val localCands: Option[Array[(Long, Long)]] =
        if (!localDispatch || store.isCommitted("edges", snap) ||
            nContents > IncrementalDedup.LOCAL_PROBE_MAX_CONTENTS) None
        else Some {
          import spark.implicits._
          // collect the FEATURES (≤64k rows) and derive the ~52 probe keys
          // per content DRIVER-side through the same Impl kernels the
          // distributed keysOf evaluates (bandHashesArr / simhashKeys — a
          // codegen-vs-driver drift is pinned by their KAT gates): one
          // small primitive-decoding collect instead of a 3.4M-row exploded
          // Row collect at the threshold, and the probe state really is two
          // long arrays per side (boundedProbePairsLocalP). NULL features
          // (empty-text contents) contribute zero keys on both paths.
          def featKv(features: DataFrame): (Array[Long], Array[Long]) = {
            val rows = features.select(col("ckey"), col("sig"), col("sim64"))
              .as[(Long, Option[Array[Long]], Option[Long])].collect()
            val ks = new scala.collection.mutable.ArrayBuilder.ofLong
            val es = new scala.collection.mutable.ArrayBuilder.ofLong
            for ((ck, sig, sim) <- rows) {
              for (s <- sig; k <- graft.functions.Impl.bandHashesArr(s, cfg.bands)) {
                ks += k; es += ck
              }
              for (sm <- sim; k <- graft.functions.Impl
                  .simhashKeys(sm, cfg.simhashBlocks, cfg.simhashMaxHamming)
                  .toLongArray()) {
                ks += k; es += ck
              }
            }
            (ks.result(), es.result())
          }
          val (nks, nes) = featKv(newFeatures)
          val (oks, oes) =
            if (snap == 0) (Array.emptyLongArray, Array.emptyLongArray)
            else featKv(store.readRange("content", 0, snap - 1))
          MinHashLSH.normalizedDistinctPairsLocal(
            MinHashLSH.boundedProbePairsLocalP(nks, nes, oks, oes, cfg.maxBucket))
        }
      localCands match {
        case Some(cands) if cands.length <= IncrementalDedup.LOCAL_VERIFY_MAX_PAIRS =>
          // driver verify: collect sh ONLY for ckeys that appear in a
          // candidate (a pruned InSet scan of the committed content range —
          // bounded by 2 × LOCAL_VERIFY_MAX_PAIRS keys), then the exact
          // sorted-merge Jaccard per pair. The commit itself is job-free.
          import spark.implicits._
          val ckeys = cands.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
          val sh = scala.collection.mutable.LongMap.empty[Array[Int]]
          if (ckeys.nonEmpty)
            for ((ck, s) <- store.readRange("content", 0, snap)
                   .select(col("ckey"), col("sh"))
                   .filter(col("ckey").isInCollection(ckeys))
                   .as[(Long, Option[Array[Int]])].collect();
                 arr <- s) sh(ck) = arr
          val verified = MinHashLSH.verifiedPairsLocal(sh, cands, cfg.tau)
          store.commitLocal("edges", snap, IncrementalDedup.edgesSchema,
            verified.toIndexedSeq.map(p => org.apache.spark.sql.Row(p._1, p._2)))
          store.read("edges", snap)
        case _ =>
          store.stage("edges", snap,
            // file sizer only: verified edge count is near-linear in this
            // snapshot's new contents (bounded probes; star caps on hot keys)
            approxRows = Some(math.max(1L, store.committedRows("content", snap)))) {
            import spark.implicits._
            val cand = localCands match {
              case Some(c) =>
                // already normalized+distinct; parallelize (not a local
                // relation) so the pair array splits into normal-sized
                // tasks for the verify joins
                spark.sparkContext.parallelize(c.toSeq,
                  math.max(1, spark.sparkContext.defaultParallelism / 4))
                  .toDF("a", "b")
              case None =>
                // bounded new-vs-accumulated probes: same hot-key star guard
                // as the batch pipeline (a boilerplate band key with 10⁶
                // accumulated entries × 10³ new arrivals must emit 10³
                // candidates, not 10⁹); ckeys are registered exactly once so
                // new/old element sets are disjoint, the kernel's contract.
                val newE = keysOf(newFeatures).select(col("key"), col("ckey").as("e"))
                (if (snap == 0)
                  // no accumulated state yet — the plain batch kernel (one
                  // groupBy + one join) emits the identical candidate set
                  // with fewer exchanges
                  MinHashLSH.boundedBucketPairs(newE, Seq("key"), cfg.maxBucket)
                else MinHashLSH.boundedProbePairs(newE,
                  keysOf(store.readRange("content", 0, snap - 1))
                    .select(col("key"), col("ckey").as("e")),
                  Seq("key"), cfg.maxBucket))
                  .filter(col("p") =!= col("q"))
                  .select(least(col("p"), col("q")).as("a"),
                    greatest(col("p"), col("q")).as("b"))
                  .distinct()
            }
            val allFeatures = store.readRange("content", 0, snap)
              .select(col("ckey").as("doc_id"), col("sh"))
            MinHashLSH.verifiedPairs(allFeatures, cand, cfg).select("a", "b")
          }
      }
    }
    val edges = store.readRange("edges", 0, snap).select("a", "b")

    // Content-level clustering over ckey nodes; deterministic label = min
    // content_id (= min doc_id ever holding any content of the component).
    // DERIVED, never committed (r6): CC is a deterministic function of two
    // committed inputs (registry ⊂ content, edges), exactly the reasoning
    // that already made `changed` derived and deleted probe_index — at
    // scale the cluster map is yet another contents-sized table, and its
    // single consumer (assignments, committed right below) is the resume
    // point. ConnectedComponents checkpoints its rounds internally, so
    // deriving adds no recomputation.
    // edge/content counts come from the committed manifests — no dispatch
    // job. SMALL dispatch (the same pattern as the probe kernel / serial
    // chunk chain / IVF training): below the thresholds the ENTIRE
    // cluster derivation — union-find AND the min-content_id relabel —
    // runs driver-side from two bounded collects. Parity with the forced
    // distributed form is spec-gated. LAZY: on resume (assignments already
    // committed) neither collect ever fires.
    lazy val localLabels: Option[Array[(Long, Long)]] = {
      val nEdges = (0 to snap).map(s => store.committedRows("edges", s)).sum
      val nContents = (0 to snap).map(s => store.committedRows("content", s)).sum
      if (localDispatch &&
          nContents <= IncrementalDedup.LOCAL_PROBE_MAX_CONTENTS &&
          nEdges <= ConnectedComponents.SMALL_GRAPH_MAX) {
        import spark.implicits._
        val reg = registry.select(col("ckey"), col("content_id"))
          .as[(Long, Long)].collect()
        val es = edges.as[(Long, Long)].collect()
        Some(IncrementalDedup.localClusterLabels(reg, es))
      } else None
    }
    lazy val contentClusters = localLabels match {
      case Some(labels) =>
        // LocalRelation — broadcasts into the assignments join with zero
        // exchanges (the distributed relabel paid a registry scan, a
        // groupBy exchange and a join-back of AQE stage latency)
        import spark.implicits._
        labels.toSeq.toDF("ckey", "cluster")
      case None =>
        val nEdges = (0 to snap).map(s => store.committedRows("edges", s)).sum
        val comps = ConnectedComponents.assignAll(spark,
          registry.select(col("ckey")), edges, // (id = ckey, cluster = min ckey)
          knownEdgeCount = Some(nEdges))
        val labels = comps.join(registry, comps("id") === registry("ckey"))
          .groupBy(comps("cluster")).agg(min("content_id").as("content_cluster"))
        comps.join(labels, "cluster")
          .select(col("id").as("ckey"), col("content_cluster").as("cluster"))
    }

    // documents inherit their content's cluster. Small regime: the labels
    // are already a driver map, so the "join" is a lookup over one narrow
    // (doc_id, ckey) collect and the commit is a zero-job LocalParquet
    // write — replacing a broadcast-join write job per snapshot. A ckey
    // missing from the label map would be a broken registration invariant:
    // fail loudly rather than drop the document.
    val assignments =
      if (!store.isCommitted("assignments", snap) &&
          store.committedRows("pages_keyed", snap) <= IncrementalDedup.LOCAL_ASSIGN_MAX_ROWS &&
          localLabels.isDefined) {
        import spark.implicits._
        val lm = scala.collection.mutable.LongMap.empty[Long]
        for ((ck, cl) <- localLabels.get) lm(ck) = cl
        val kv = keyed.select(col("doc_id"), col("ckey")).as[(Long, Long)].collect()
        store.commitLocal("assignments", snap, IncrementalDedup.assignSchema,
          kv.toIndexedSeq.map { case (d, ck) =>
            org.apache.spark.sql.Row(d, lm.getOrElse(ck,
              sys.error(s"ckey $ck of doc $d has no cluster label")))
          })
        store.read("assignments", snap)
      } else store.stage("assignments", snap,
        approxRows = Some(store.committedRows("pages_keyed", snap))) {
        keyed.select(col("doc_id"), col("ckey"))
          .join(contentClusters, Seq("ckey"))
          .select(col("doc_id"), col("cluster"))
      }

    // row counts come from the committed stage manifests — zero extra
    // jobs, except n_changed (A3): `changed` is derived, not committed,
    // so its count is one narrow anti-join pass, paid only when this
    // metrics stage actually computes (never on resume). The 1-row frame
    // itself commits through the zero-job local writer.
    store.stageLocal("metrics", snap, IncrementalDedup.metricsSchema,
      Map("stage" -> "snapshot_summary")) {
      val nEdges = (0 to snap).map(s => store.committedRows("edges", s)).sum
      Seq(org.apache.spark.sql.Row(snap, store.committedRows("pages_keyed", snap),
        if (snap == 0) store.committedRows("pages_keyed", 0) // changed ≡ keyed
        else changed.count(),
        store.committedRows("content", snap), nEdges,
        store.committedRows("assignments", snap),
        (System.nanoTime() - t0) / 1000000))
    }

    // Iceberg-style maintenance: periodically rewrite each append-only
    // table's 0..snap prefix into one compacted snapshot, so a depth-100
    // chain's readRange unions ≤ compactEvery scans instead of 100
    // (SnapshotStore.compactUpTo is idempotent — resume-safe like a stage)
    // metrics was `changed`'s last consumer (nothing after this point — or
    // returned — depends on it)
    if (snap > 0) changed.unpersist()

    if (compactEvery > 0 && (snap + 1) % compactEvery == 0)
      Seq("content", "edges").foreach(t => store.compactUpTo(t, snap))

    assignments
  }

  private def emptyReg(): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("ckey", "content_id")
  }
}
