package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition proof for the operator
  * families: quality gate → language gate → exact dedup → near-dup
  * removal → per-language token budget, as ONE lazily-built plan.
  *
  * Each stage is an operator the catalog already verifies in isolation
  * (t04-style surface heuristics, d01's digest dedup, d07's exact
  * prefix-filter join, t02's token accounting); this query wires them
  * the way a real training-data build does and lets Catalyst optimize
  * ACROSS stage boundaries — the scan serves every stage's columns in
  * one pass, the quality/lang filters prune before any dedup shuffle,
  * and the near-dup kernel runs only on the filtered survivors.
  *
  * Reference analog: none — the reference chains jobs by hand through
  * files on disk (`/root/reference/README.md:782-815`, PageRank
  * iteration via `pagerank_file` re-submission); here chaining is plan
  * composition with zero materialization between stages.
  *
  * Scale shape at 100 TB: the narrow filters ride the scan (predicate
  * pushdown on `lang`/`n_chars`, then expression-space token gates);
  * the digest dedup is one combiner-friendly shuffle on md5; the
  * near-dup stage inherits d07's near-linear rare-token join on the
  * (smaller) filtered corpus; the budget roll-up is a 5-key aggregate.
  * Nothing materializes an intermediate corpus copy. */
object PipelineOps {

  /** (doc_id, lang, n_tokens) of the documents surviving the quality,
    * language, exact-dedup and near-dup stages (exposed for the spec). */
  private[graft] def curated(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.df(s, dir, "documents")
      .withColumn("n_tokens",
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long"))
    // quality gate: enough tokens, sane mean token length (mojibake and
    // run-on junk both fail the chars-per-token band)
    val quality = d.filter(col("n_tokens") >= 30 &&
      col("n_chars").cast("double") / col("n_tokens") <= 13.0)
    // language gate: the training mix (drops zh in this fixture)
    val langGated = quality.filter(col("lang").isin("en", "de", "es", "fr"))
    // exact dedup: keep the smallest doc_id per content digest
    val keepers = langGated
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val deduped = langGated.join(keepers, "doc_id")
    // near-dup removal: exact prefix-filter pairs (d07 kernel) over the
    // survivors; drop every doc whose connected component has a smaller
    // member (the component min is the kept representative)
    val (pairs, sets) = DedupOps.prefixFilterPairsAndSets(
      DedupOps.hashedWordSetsOf(deduped, keep = Seq("lang", "n_tokens")), 0.9)
    val drops = DedupOps.connectedComponents(pairs.select("doc_a", "doc_b"))
      .filter(col("component") =!= col("node"))
      .select(col("node").as("doc_id"))
    // the survivors' roll-up columns ride the kernel's materialized sets
    // frame: reading `deduped` again would recompute the quality gate,
    // the md5 group-by and its join in the final action
    sets.select("doc_id", "lang", "n_tokens").join(drops, Seq("doc_id"), "left_anti")
  }

  // ---------------------------------------------------------------- p01
  val p01 = Q("p01_corpus_curation",
    (s, dir) =>
      curated(s, dir)
        .groupBy("lang")
        // avg of integer token counts = Σ/n, an integer rational whose
        // true value can land exactly on a hundredth-and-a-half —
        // round(double, 2) is engine-dependent there (the q33/t04
        // knife-edge class, r14): exact integer round-half-up instead
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"))
        .withColumn("avg_tokens",
          expr(ExactRound.spark("total_tokens", "n_docs", 2)))
        .select(col("lang"), col("n_docs"), col("total_tokens"),
          col("avg_tokens"))
        .orderBy("lang"),
    Some(s"""
      WITH RECURSIVE f AS (
        SELECT doc_id, text, lang,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS n_tokens,
               n_chars
        FROM documents),
      q AS (
        SELECT * FROM f
        WHERE n_tokens >= 30
          AND n_chars * 1.0 / n_tokens <= 13.0
          AND lang IN ('en', 'de', 'es', 'fr')),
      k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
      dq AS (SELECT q.* FROM q JOIN k USING (doc_id)),
      w AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(text, ' '),
                 x -> x <> '')) AS s
        FROM dq),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM w a JOIN w b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s)) * 1.0 /
                (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
      walk(node, reach) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT walk.node, e.dst FROM walk JOIN edges e ON walk.reach = e.src),
      drops AS (
        SELECT node FROM walk GROUP BY node HAVING min(reach) < node),
      kept AS (
        SELECT * FROM dq WHERE doc_id NOT IN (SELECT node FROM drops))
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             ${ExactRound.duck("sum(n_tokens)", "count(*)", 2)}
               AS avg_tokens
      FROM kept
      GROUP BY lang
      ORDER BY lang"""),
    // Bench headline: the end-to-end curation pipeline is what the
    // project exists for — regressions here must show in BENCH, not
    // just in TPC-H shapes.
    headline = true,
    // The composed scale oracle (r15 verdict ask #2): every stage p01
    // wires is individually sf1.0-hash-gated, but composition itself
    // could still be wrong at scale — so the replay composes the SAME
    // independent DuckDB implementations end-to-end: the ground-truth
    // filter/dedup CTEs (linear), then d07's prefix-filter pair replay
    // REBASED onto the filtered survivors (`src = "dq"`; df/rank over
    // the filtered corpus exactly like the Spark kernel's
    // hashedWordSetsOf(deduped)), then d06's STAGED min-label
    // propagation (R16.7: one temp-table statement per round) with its
    // loud convergence guard folded into the OUTPUT column (d06's
    // pattern — a guard in an otherwise-unused 1-row cross-joined CTE
    // gets optimizer-PRUNED and never fires; measured here with a
    // 2-round budget at sf0.01: 178 unconverged labels, no error),
    // then the per-lang budget roll-up.
    scaleOracle = Some(s"""
      CREATE OR REPLACE TEMP TABLE graft_p01_dq AS
      WITH f AS (
        SELECT doc_id, text, lang,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS n_tokens,
               n_chars
        FROM documents),
      q AS (
        SELECT * FROM f
        WHERE n_tokens >= 30
          AND n_chars * 1.0 / n_tokens <= 13.0
          AND lang IN ('en', 'de', 'es', 'fr')),
      k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text))
      SELECT q.* FROM q JOIN k USING (doc_id)
      --graft-stage--
      ${DedupOps.replayPairStages(0.9, "p01", src = "graft_p01_dq")}
      --graft-stage--
      ${DedupOps.propagationStages(16, "p01", "graft_p01_tp")}
      --graft-stage--
      WITH drops AS (SELECT node FROM graft_p01_l16 WHERE lbl < node),
      kept AS (
        SELECT dq.* FROM graft_p01_dq dq
        WHERE doc_id NOT IN (SELECT node FROM drops))
      SELECT lang,
             CASE WHEN ${DedupOps.propagationUnconverged(16, "p01")} > 0
                  THEN CAST(error('p01 CC propagation not converged in 16 rounds — raise the budget') AS BIGINT)
                  ELSE count(*) END AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             ${ExactRound.duck("sum(n_tokens)", "count(*)", 2)}
               AS avg_tokens
      FROM kept
      GROUP BY lang
      ORDER BY lang"""))

  // ---------------------------------------------------------------- p02
  /** Dataset card — the release artifact every corpus ships with: per
    * (source, lang) document/token counts, corpus share, and length
    * stats, in ONE scan-riding aggregate. The share-of-corpus column
    * derives from a window over the ALREADY-AGGREGATED frame (≤ sources
    * × langs rows), so the corpus-sized work is a single bounded-key
    * partial agg; at 100 TB nothing but that one pass touches the data.
    * Deliberately a composition of verified pieces (t02's token
    * accounting, v01's single-pass discipline) — the point is the card
    * query stays ONE job. */
  val p02 = Q("p02_corpus_report",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      Tables.df(s, dir, "documents")
        .withColumn("n_tokens",
          size(expr("filter(split(text, ' '), x -> x != '')")).cast("long"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("tokens"),
          min("n_tokens").as("min_tokens"),
          max("n_tokens").as("max_tokens"))
        // both ratios are integer rationals (Σtokens / count,
        // Σtokens / Σtokens) — exact integer round-half-up (the
        // q33/t04 knife-edge class, r14)
        .withColumn("mean_tokens",
          expr(ExactRound.spark("tokens", "n_docs", 4)))
        .withColumn("all_tokens", sum("tokens").over(w))
        .withColumn("pct_tokens",
          expr(ExactRound.spark("tokens", "all_tokens", 6)))
        .select("source", "lang", "n_docs", "tokens", "min_tokens",
          "max_tokens", "mean_tokens", "pct_tokens")
        .orderBy("source", "lang")
    },
    Some(s"""
      WITH t AS (
        SELECT source, lang,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        FROM documents),
      g AS (
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS tokens,
               CAST(min(n_tokens) AS BIGINT) AS min_tokens,
               CAST(max(n_tokens) AS BIGINT) AS max_tokens
        FROM t GROUP BY 1, 2)
      SELECT source, lang, n_docs, tokens, min_tokens, max_tokens,
             ${ExactRound.duck("tokens", "n_docs", 4)} AS mean_tokens,
             ${ExactRound.duck("tokens", "sum(tokens) OVER ()", 6)}
               AS pct_tokens
      FROM g
      ORDER BY source, lang"""))

  val queries: Seq[Q] = Seq(p01, p02)
}
