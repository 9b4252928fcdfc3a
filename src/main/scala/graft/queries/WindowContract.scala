package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.InlineCTE
import org.apache.spark.sql.catalyst.plans.logical.Window

/** Named invariant for UNPARTITIONED windows (r16 verdict #5 — the same
  * pattern that made `Bench.constInput3x` and
  * `EagerContract.eagerByDesign` un-rottable): an empty-partitionSpec
  * WindowExec serializes its whole input through ONE task, which is the
  * 100 TB failure mode — UNLESS the input is bounded by a value DOMAIN
  * (distinct cents, deciles, partition heads), not the corpus. Every
  * registry row whose DECLARED plan contains an unpartitioned Window
  * must be listed here with (rationale, bound): the bound is the
  * maximum rows the window's input may reach at the driver's sf0.01,
  * asserted by executing the window's child subplan in
  * WindowContractSpec. RegistrySpec's window census reads every row's
  * declared plan: an UNLISTED row that plans an unpartitioned window
  * fails it by name; a listed row whose plan loses its window fails as
  * a stale entry — the set cannot rot in either direction.
  *
  * Known blind spot (documented, not hidden): rows that COLLECT inside
  * their declaration (conf-variant rows rebuild a local DF) execute
  * any window before the census can see the plan; those windows are
  * covered by the rows' own fences, not this contract.
  */
object WindowContract {

  /** The empty-partitionSpec Windows of `df`'s analyzed plan. CTEs are
    * inlined first: a Window inside a WITH clause is otherwise extracted
    * with a dangling CTERelationRef, which cannot be executed as a
    * standalone subplan (key-not-found at planning). */
  def unpartitionedWindows(df: DataFrame): Seq[Window] =
    InlineCTE(alwaysInline = true).apply(df.queryExecution.analyzed)
      .collect { case w: Window if w.partitionSpec.isEmpty => w }

  /** query name → (why the window input is domain-bounded, max input
    * rows at sf0.01 — generous but single-task-comfortable). */
  val domainBounded: Map[String, (String, Long)] = Map(
    "agg_gini" -> ("cumulative share over the DISTINCT-cents table — " +
      "the value domain (≤ ~49.2k cents), not the corpus", 49200L),
    "layout_compaction_bins" -> ("bin-packing prefix sums over the " +
      "per-file stats table — one row per FILE of a bounded fixture", 4000L),
    "ml_bh_fdr" -> ("largest window is the Kruskal-style cumulative " +
      "rank over the DISTINCT-cents table (value domain, ~6.6k at " +
      "sf0.01); the BH rank itself runs over the 10-row pair table", 49200L),
    "ml_dunn_posthoc" -> ("rank sums over a bounded-group sample grid; " +
      "input is the per-group rank table", 49200L),
    "ml_gains_deciles" -> ("heads-offset fold (≤ #partitions) + the " +
      "10-row decile cumulative — the r17 rewrite removed the global " +
      "corpus-growing ntile this census caught", 1000L),
    "ml_gbt_step" -> ("split scan over the DISTINCT threshold values " +
      "of one feature — value domain, saturates", 49200L),
    "ml_isotonic_bins" -> ("pool-adjacent-violators passes over the " +
      "BINNED calibration table — fixed bin count per pass", 49200L),
    "ml_kaplan_meier" -> ("survival product over DISTINCT event " +
      "times — the time domain, saturates", 49200L),
    "ml_kruskal_wallis" -> ("global rank over the pooled sample — " +
      "tie-averaged on the DISTINCT-value table", 49200L),
    "ml_ks_stat" -> ("CDF sweep over DISTINCT values of the two " +
      "samples — value domain", 49200L),
    "ml_mann_whitney" -> ("global rank over the pooled DISTINCT-value " +
      "table — value domain", 49200L),
    "ml_pr_curve" -> ("precision-recall sweep over DISTINCT score " +
      "thresholds — score domain", 49200L),
    "ml_roc_points" -> ("ROC sweep over DISTINCT score thresholds — " +
      "score domain", 49200L),
    "ml_spearman" -> ("tie-averaged ranks over the DISTINCT-cents " +
      "table — fenced ≤ 49.2k at every SF (ScaleGrowthSpec)", 49200L),
    "ml_wilcoxon_signed" -> ("signed ranks over DISTINCT |diff| " +
      "values — value domain", 49200L),
    "pipe_abc_analysis" -> ("cumulative revenue share over the per-SKU " +
      "aggregate — one row per PART, bounded by the catalog " +
      "dimension", 25000L),
    "pipe_skew_report" -> ("rank over the per-KEY count table — one " +
      "row per distinct key CLASS in the skew report", 49200L),
    "pipe_skyline" -> ("dominance sweep over the per-GROUP aggregate " +
      "table — group domain", 25000L),
    "sort_global" -> ("rank offsets over the partition-HEADS table — " +
      "one row per structural partition (the r16 lazy-rank " +
      "derivation)", 1000L),
    "sort_nulls_last" -> ("same partition-heads offset table as " +
      "sort_global", 1000L),
    "text_zipf_slope" -> ("log-log regression over the TOP-RANKED " +
      "vocabulary slice — rank cutoff bounds it", 60000L),
    "win_ewma_trunc" -> ("EWMA over the per-BUCKET time series — one " +
      "row per time bucket (calendar domain)", 4000L),
    "win_interpolate" -> ("gap interpolation over the per-BUCKET " +
      "series — calendar domain", 4000L),
    "win_pct_change" -> ("percent change over the per-BUCKET series — " +
      "calendar domain", 4000L),
    "win_rolling_zscore" -> ("rolling z-score over the per-BUCKET " +
      "series — calendar domain", 4000L))
}
