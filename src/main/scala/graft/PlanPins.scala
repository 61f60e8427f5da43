package graft

/** Plan-shape pins shared by the sf0.001 smoke audit
  * ([[QueriesSmokeSpec]]) and the at-scale rehearsal audit
  * ([[PlanAudit]]). The forbidden classes are the ones that stop scaling
  * at 100 TB: CartesianProduct / un-allowlisted BroadcastNestedLoopJoin
  * (O(n·m) pair explosion) and E-group Windows partitioned by a
  * data-dependent unbounded key (one hot digest serializes onto a single
  * task). The allowlists below enumerate every intentional exception with
  * its boundedness argument.
  */
object PlanPins {

  /** Queries whose plans intentionally contain a BroadcastNestedLoopJoin:
    *  - e4: crossJoin against a BROADCAST SINGLE-ROW frame (the query
    *    vector) — O(n·1), the designed "compare every row to one constant"
    *    shape;
    *  - f9: the time-grid × event-types cross product IS the gap-fill
    *    output (dense grid generation), not a join explosion — its row
    *    count equals the result size by definition.
    * Everything else must be nested-loop-free: an unlisted
    * BNLJ/CartesianProduct is exactly the O(n²) regression class the
    * round-1 audit flagged (e8's old pair join).
    */
  val SingleRowCrossJoins: Set[String] =
    Set("e4_similarity_topk", "f9_gapfill",
      // e29/e31: crossJoin against a broadcast single-row AGGREGATE (corpus
      // doc count / mixing normalizer) — O(n·1) constant attachment
      "e29_tfidf_keywords", "e31_source_mix",
      // e41: the ground-truth side is brute force over the SAMPLED query
      // set BY DESIGN (recall needs exact truth; O(n·|Q|) under a
      // broadcast) — the ANN side under evaluation stays an equi-join
      "e41_ann_recall",
      // e58: e4's single-row query-vector crossJoin, over e18's probed +
      // metadata-filtered lists only
      "e58_ann_filtered",
      // e59: e41's class — exact ground truth AND the PQ side under
      // evaluation both sweep the corpus against the broadcast 3-query
      // sample (recall grading is O(n·|Q|) by definition)
      "e59_pq_recall",
      // e64: e4's single-row query-vector crossJoin, over the two
      // partition-pruned list directories only
      "e64_ann_index_persist",
      // f26: e64's probe over the stream-appended index (same single-row
      // query-vector crossJoin, same partition-pruned scan)
      "f26_stream_ivf_ingest",
      // e76: crossJoin against the broadcast SINGLE-ROW Bloom filter
      // (128 KB constant attached to the training scan) — O(n·1)
      "e76_bloom_decontaminate",
      // e77: crossJoins against the broadcast single-row topk_sketch
      // summary and its (err, n) bounds row — O(10·1) grading attachment
      "e77_heavy_hitters",
      // e81: e4's single-row query-vector crossJoin for the dense arm
      "e81_hybrid_rrf",
      // e85: e41's class — exact ground truth sweeps the corpus against
      // the broadcast sampled query set (recall grading is O(n·|Q|) by
      // definition); both serving arms under evaluation stay equi-joins
      "e85_rebalance_recall",
      // e90: e59's class — the exact truth arm sweeps the corpus against
      // the broadcast 3-query sample (recall grading); the IVFADC serving
      // arm under evaluation is a partition-pruned scan + broadcast
      // equi-join on (list_id = pl)
      "e90_ann_ivfpq",
      // e92: e90's grader on a PARAMETERIZED 3-query batch (midpoint
      // vectors, not corpus rows) — identical truth-arm class
      "e92_ann_other_queries",
      // e93: e90 + IVFADC-R — truth arm unchanged; the re-rank arm is a
      // broadcast equi-join of the ≤ R·|Q| candidate set back to the
      // corpus (O(R) exact distances per query)
      "e93_ann_ivfadc_rerank",
      // f34: e90's recall grader verbatim over the stream-built compacted
      // code layout — same truth-arm class
      "f34_stream_ivfpq_ingest",
      // e91: the NB score matrix is eval-docs × the broadcast per-lang
      // bias table (bounded by the language count) — O(n·L) constant
      // attachment, the e77 grading class
      "e91_langid_learned",
      // e101: e41's class — the retrain gate's exact ground truth sweeps
      // the (drifted) corpus against the broadcast 3-query probe batch;
      // both serving arms under evaluation stay equi-joins on list id
      "e101_ivf_retrain")

  /** E-group queries whose plans intentionally contain a Window exec. The
    * forbidden class is a window partitioned by a DATA-DEPENDENT UNBOUNDED
    * key — a content digest or signature, where one hot key (a boilerplate
    * page duplicated 10⁸×) grows with the corpus and serializes onto a
    * single task; those must use the groupBy(min)+join-back recipe
    * (Dedup.exactClusters, e30). The windows below all partition on
    * bounded groups:
    *  - e29: per-doc top-3 — group size = distinct words in ONE document;
    *  - e41: per-query top-10 — group size = candidates of one query;
    *  - e36/e44: per-RANGE-PARTITION running sums (the distributed prefix
    *    sum) — group size = one range partition by construction;
    *  - e50: two-phase top-K — phase 1 windows on (domain, pid) (bounded
    *    by a scan partition), phase 2 on domain over the ≤ 5·partitions
    *    local winners (bounded by construction).
    */
  val BoundedGroupWindows: Set[String] =
    Set("e29_tfidf_keywords", "e41_ann_recall", "e36_pack_sequences",
      "e44_budget_trim", "e50_domain_cap",
      // e59: per-query top-5 over the 3-query eval sample (e41's class)
      "e59_pq_recall",
      // e61: two-pass per-shard sequence — window is on (shard, pid),
      // bounded by a range partition (the b20/e36/e44 recipe)
      "e61_shuffle_shard",
      // e62/e63/e65: span-merge windows are per-doc — group size bounded
      // by a single document's token count (e63 rolls up e62's relation;
      // e65 merges eval-contamination marks)
      "e62_dup_spans", "e63_dup_burden", "e65_contam_spans",
      // e66: consumes the memoized e65 span relation (same bounded
      // per-doc merge inside the cached lineage)
      "e66_span_scrub",
      // e69: two-phase top-K per cluster (e50's class) — phase 1 windows
      // on (cluster, pid) (bounded by a scan partition), phase 2 on
      // cluster over the ≤ 25·partitions local winners
      "e69_cluster_cap",
      // e72: two-pass per-(split, shard) resume sequence — window is on
      // (split, shard, pid), bounded by a range partition (e61's recipe)
      "e72_training_manifest",
      // e79: two-phase top-3 per source (e50's class) — phase 1 windows
      // on (source, pid) (bounded by a scan partition), phase 2 on
      // source over the ≤ 3·partitions local winners
      "e79_source_heavy_hitters",
      // e81: rank windows run AFTER each arm's top-20 limit — ≤ 20-row
      // frames by construction (TakeOrderedAndProject feeds them)
      "e81_hybrid_rrf",
      // e85: per-query top-10 over one query's candidates/truth (e41's
      // class, once per serving arm)
      "e85_rebalance_recall",
      // e89: per-query top-10 over one query's pruned-probe candidates
      // (e41's class, served from the swapped persisted layout)
      "e89_rebalance_persist",
      // e90: per-query top-5 over one query's probed-list ADC candidates
      // plus the exact truth arm's per-query top-5 (e59's class)
      "e90_ann_ivfpq",
      // e91: per-doc argmax over the language set — group size bounded by
      // the number of languages
      "e91_langid_learned",
      // e92: e90's per-query top-5 windows on the parameterized query
      // batch (same bounded |Q|-group class)
      "e92_ann_other_queries",
      // e93: e90's windows plus the re-rank top-5 — group size ≤ R=20
      // candidates per query by construction
      "e93_ann_ivfadc_rerank",
      // e94: the served-top-5 window is e90's per-query class (one
      // query's probed-list ADC candidates); no truth arm, so no
      // crossJoin allowlisting needed
      "e94_ann_delete_serve",
      // e96: e94's lifecycle with a literal takedown epoch — the same
      // served-top-5 per-query window class, nothing else windows
      "e96_ann_takedown_epoch",
      // e97: the cascade audit's dense arm is ivfPqServedTop — e94's
      // served-top-5 per-query window class (bounded |Q| partitions)
      "e97_forget_cascade",
      // f37: e94's lifecycle on the stream-maintained index — the same
      // served-top-5 per-query window class, nothing else windows
      "f37_stream_ivfpq_delete")

  /** The plan-shape assertions, applied to a physical-plan string. Returns
    * the violations (empty = clean). Callers decide fail-fast (ScalaTest)
    * vs report (PlanAudit).
    */
  def violations(name: String, plan: String): Seq[String] = {
    val v = Seq.newBuilder[String]
    if (plan.contains("CartesianProduct"))
      v += s"$name plans a CartesianProduct — O(n*m) at scale"
    if (!SingleRowCrossJoins.contains(name) &&
        plan.contains("BroadcastNestedLoopJoin"))
      v += s"$name plans a BroadcastNestedLoopJoin — nested loop at scale"
    if (name.startsWith("e") && !BoundedGroupWindows.contains(name) &&
        plan.contains("Window"))
      v += s"$name plans a Window — E-group windows must be in the audited " +
        "bounded-group allowlist (hot digest keys serialize at scale)"
    v.result()
  }
}
