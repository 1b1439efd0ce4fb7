package graft.operators

import graft.{Num, QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for a training-data pipeline: token
  * statistics, quality scoring, language identification, and content
  * fingerprinting. All are single-scan, per-row expression pipelines —
  * embarrassingly parallel, no shuffle except the final aggregates —
  * which is exactly the shape that keeps them scan-bound at 100 TB.
  *
  * Every query here has a full DuckDB oracle: the scoring formulas are
  * written in engine-portable primitives (regex-free token splits,
  * integer encodings for argmax tie-breaks, modular-arithmetic
  * fingerprints) so both engines agree exactly.
  */
object TextAnalysis extends QueryModule {
  import Tables._
  import Num._

  /** Non-empty whitespace tokens — identical semantics both engines. */
  private[operators] val toksExpr = "filter(split(text, '\\\\s+'), t -> t != '')"

  private[operators] val stopwords =
    Seq("the", "and", "of", "to", "a", "in", "is", "it")

  /** Marker vocabularies for the language-ID heuristic. Priority codes
    * break score ties deterministically (higher code wins; en default).
    */
  private val langMarkers: Seq[(String, Int, Seq[String])] = Seq(
    ("en", 7, Seq("the", "and", "of", "to", "in", "is")),
    ("de", 3, Seq("der", "die", "das", "und", "ist", "nicht")),
    ("es", 2, Seq("el", "la", "los", "que", "por", "con")),
    ("fr", 1, Seq("le", "les", "des", "est", "que", "une")),
    ("zh", 0, Seq("de", "shi", "bu", "zai", "you", "wo")))

  private[operators] def sqlToks = "list_filter(string_split_regex(text, '\\s+'), t -> t != '')"

  /** Positional 32-bit md5 window hashes — the native one-pass
    * replacement for
    * `transform(sequence(1, greatest(1, length(text) - 7)),
    *   i -> cast(conv(substring(md5(substring(text,i,8)),1,8),16,10) as bigint))`
    * (same values, pinned by NativeExprSpec; none of the four
    * per-window string allocations of the composed form). */
  private def hsCol =
    graft.expressions.Md5Shingles.md5_shingles32(col("text"), 8)
  private val fpsExpr =
    "array_distinct(transform(sequence(1, greatest(1, size(hs) - 7))," +
      " j -> array_min(slice(hs, j, 8))))"

  /** The same winnowed-fingerprint set in the DuckDB dialect. */
  private val sqlWinnow =
    """t AS (
      |  SELECT doc_id, list_transform(
      |    generate_series(1, greatest(1, len(text) - 7)),
      |    i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 8))::BIGINT)
      |    AS hs
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, hs, list_distinct(list_transform(
      |    generate_series(1, greatest(1, len(hs) - 7)),
      |    j -> list_min(hs[j:j+7]))) AS fps
      |  FROM t)""".stripMargin

  /** Per-document bigram-LM fluency (doc_id, n_bigrams, mean_p) —
    * shared by text_bigram_lm (which just sorts it) and
    * text_ccnet_buckets (which quantile-buckets it per language).
    * mean_p = mean over the doc's bigrams of P(w2|w1) = c(w1 w2)/c(w1 ·)
    * under the corpus's own counts; each p is one exact IEEE division
    * and the mean goes through Num's decimal quantization, so the score
    * is bit-identical across engines (ln-perplexity is avoided: libm
    * differs). The prob table joins on the bigram key with no broadcast
    * hint — bigram vocabulary at web scale is billions of rows, AQE
    * decides (same contract as text_tfidf). */
  private def bigramFluency(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val bg = documents(s, d)
      .withColumn("toks", expr(toksExpr))
      // Spark's sequence(1, 0) generates a DESCENDING [1, 0], not an
      // empty array — docs under 2 tokens (no bigrams) are filtered,
      // not special-cased
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1)," +
          " i -> struct(toks[i - 1] as w1," +
          " concat(toks[i - 1], ' ', toks[i]) as big))")).as("e"))
      .select(col("doc_id"), col("e.w1").as("w1"), col("e.big").as("big"))
    val c2 = bg.groupBy(col("big"), col("w1")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val probs = c2.join(c1, Seq("w1"))
      .select(col("big"), (col("c2").cast("double") / col("c1")).as("p"))
    bg.join(probs, Seq("big"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.Num.davg(col("p")).as("mean_p"))
  }

  /** Opens the bigram-LM oracles' WITH list: bigrams `bg` (doc_id,
    * w1, big), counts `c2` and `c1`, and P(w2|w1) per bigram `probs`,
    * mirroring [[bigramFluency]]. */
  private val bigramProbsSql =
    s"""WITH bg AS MATERIALIZED (
       |  SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS big
       |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents),
       |  UNNEST(generate_series(1, len(toks) - 1)) u(i)
       |  WHERE len(toks) >= 2),
       |c2 AS (SELECT big, w1, COUNT(*) AS c2 FROM bg GROUP BY big, w1),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
       |probs AS (
       |  SELECT big, CAST(c2 AS DOUBLE) / c1 AS p
       |  FROM c2 JOIN c1 USING (w1))""".stripMargin

  /** The space-joined token 5-grams of `toks` in order, `[]` under 5
    * tokens, as a DuckDB expression. No line starts with `||`: the
    * oracle's own stripMargin would strip it. */
  private val fiveGramsSql =
    """CASE WHEN len(toks) >= 5 THEN
      |      list_transform(generate_series(1, len(toks) - 4),
      |        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' ||
      |          toks[i + 3] || ' ' || toks[i + 4])
      |    ELSE [] END""".stripMargin

  /** The per-document counts [[gopherFlags]] tests, as DuckDB select
    * items over `toks` and `text`. */
  private[operators] val gopherSignalsSql =
    s"""CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_prepend(0,
       |      list_transform(toks, t -> len(t)))) AS BIGINT) AS tok_chars,
       |    CAST(len(list_filter(toks,
       |      t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
       |    CAST(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
       |      AS BIGINT) AS n_sym,
       |    CAST(len(list_filter(toks, t -> t IN
       |      (${stopwords.map("'" + _ + "'").mkString(",")})))
       |      AS BIGINT) AS n_stop""".stripMargin

  /** The Gopher rule battery's per-document flags (doc_id, counts,
    * r_* bits, pass) — shared by text_gopher_rules (which just
    * projects and sorts it) and text_score_calibration (which joins
    * the pass bit against the classifier score). */
  private def gopherFlags(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    documents(s, d)
      .withColumn("toks", expr(toksExpr))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("tok_chars",
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))"))
      .withColumn("n_alpha", size(expr(
        "filter(toks, t -> t rlike '[a-zA-Z]')")).cast("long"))
      .withColumn("n_sym",
        length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", ""))
          .cast("long"))
      .withColumn("n_stop", size(expr(
        s"filter(toks, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")}))"))
        .cast("long"))
      .withColumn("mean_tok_len",
        col("tok_chars").cast("double") / col("n_tokens"))
      .withColumn("r_count",
        (col("n_tokens") >= 10 && col("n_tokens") <= 1000)
          .cast("long"))
      .withColumn("r_mean_len",
        (col("mean_tok_len") >= 2.0 && col("mean_tok_len") <= 8.0)
          .cast("long"))
      .withColumn("r_symbol",
        (col("n_sym").cast("double") / length(col("text")) < 0.1)
          .cast("long"))
      .withColumn("r_alpha",
        (col("n_alpha").cast("double") / col("n_tokens") > 0.8)
          .cast("long"))
      .withColumn("r_stop", (col("n_stop") >= 2).cast("long"))
      .withColumn("pass",
        (col("r_count") + col("r_mean_len") + col("r_symbol") +
          col("r_alpha") + col("r_stop") === 5).cast("long"))

  override def queries: Map[String, Q] = Map(
    // Token statistics per document + corpus rollup.
    "text_token_stats" -> ((s, d) => {
      documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("n_chars_m", length(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          davg(col("n_tokens").cast("double")).as("avg_tokens"),
          max(col("n_chars_m")).cast("long").as("max_chars"))
        .orderBy(col("lang"))
    }),

    // Quality scoring: stopword ratio, mean token length, digit ratio.
    "text_quality" -> ((s, d) => {
      documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("n_stop", size(expr(
          s"filter(toks, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")}))")))
        .withColumn("n_digit", length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("digit_ratio",
          col("n_digit").cast("double") / length(col("text")))
        .withColumn("quality_bucket",
          when(col("n_tokens") < 10, "too_short")
            .when(col("stop_ratio") > 0.5, "boilerplate")
            .otherwise("ok"))
        .select(col("doc_id"), col("n_tokens"), col("n_stop"),
          col("stop_ratio"), col("digit_ratio"), col("quality_bucket"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID heuristic: marker-word hit counts per language,
    // argmax via integer packing (score*8 + priority) so ties break
    // identically in both engines. Output is the lang × predicted
    // confusion matrix.
    "text_langid" -> ((s, d) => {
      val scored = langMarkers.foldLeft(
        documents(s, d).withColumn("toks", expr(toksExpr))) {
        case (df, (name, _, markers)) =>
          df.withColumn(s"s_$name", size(expr(
            s"filter(toks, t -> t IN (${markers.map("'" + _ + "'").mkString(",")}))")))
      }
      val packed = langMarkers.map { case (name, code, _) =>
        col(s"s_$name") * 8 + lit(code)
      }
      val codeToLang = langMarkers.map { case (name, code, _) =>
        (code, name)
      }
      val predicted = codeToLang.tail.foldLeft(
        when(greatest(packed: _*) % 8 === codeToLang.head._1,
          lit(codeToLang.head._2))) { case (acc, (code, name)) =>
        acc.when(greatest(packed: _*) % 8 === code, lit(name))
      }
      scored
        .withColumn("predicted", predicted)
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // Bigram corpus-coverage scoring: the fraction of a document's
    // token bigrams that occur >= 5 times corpus-wide — a
    // repetitiveness/naturalness proxy used for LM-data filtering
    // (integer counts + one exact division, so fully oracle-checked,
    // unlike log-prob LM scores whose libm transcendentals differ
    // across engines). The common-bigram table is vocabulary-bounded
    // => broadcast; the corpus side streams once.
    "text_bigram_coverage" -> ((s, d) => {
      val docs = documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("bigrams", expr(
          "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1)," +
            " i -> concat(toks[i - 1], ' ', toks[i]))" +
            " ELSE array() END"))
      val bg = docs.select(col("doc_id"), explode(col("bigrams")).as("b"))
      val common = broadcast(bg.groupBy(col("b"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= 5)
        .select(col("b")))
      bg.join(common, Seq("b"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_common"))
        .join(docs.select(col("doc_id"),
          size(col("bigrams")).cast("long").as("n_bigrams")),
          Seq("doc_id"), "right")
        .select(col("doc_id"), col("n_bigrams"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
        .withColumn("coverage",
          when(col("n_bigrams") > 0,
            col("n_common").cast("double") / col("n_bigrams")))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (the MOSS scheme): hash every positional
    // 8-gram, slide a window of 8 hashes, keep each window's minimum,
    // dedupe. Guarantee: any substring match of length >= w + k - 1 =
    // 15 chars between two documents yields at least one SHARED
    // fingerprint, at ~2/(w+1) the density of the full shingle set —
    // the standard way to cut fingerprint index size ~4x while keeping
    // detection guarantees. Pure per-row expression work (no shuffle
    // except the final sort); hashes are md5-derived so the DuckDB
    // oracle recomputes identical fingerprints.
    "text_winnow" -> ((s, d) => {
      documents(s, d).withColumn("hs", hsCol).withColumn("fps", expr(fpsExpr))
        .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
          size(col("fps")).cast("long").as("n_fp"),
          expr("aggregate(fps, 0L, (a, x) -> a + x)").as("fp_sum"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing as a candidate GENERATOR: pairs sharing many winnowed
    // fingerprints, via the inverted-index self-join — the same
    // sub-quadratic shape as the shingle-based near-dup joins but over
    // the ~4x-smaller fingerprint index (that size cut is winnowing's
    // entire point). The >= 24 cut tracks the true J>=0.8 near-dup
    // pair set on this corpus.
    //
    // The df <= 128 cap on the inverted index is what makes the join
    // sub-quadratic AT ANY CORPUS SIZE, not just here: a fingerprint
    // shared by more than ~a-clique's-worth of documents is template
    // boilerplate, not near-dup evidence, and every hot fingerprint
    // costs df^2 join rows (this corpus at 10x data: max df 2187,
    // 86M join rows uncapped vs 3.8M capped — and the uncapped cost
    // grows as corpus^2 while the capped cost stays linear in the
    // number of distinct fingerprints). Same df-cap idea as the
    // AllPairs prefix filter's frequency ordering.
    "text_winnow_pairs" -> ((s, d) => {
      // ONE pass: the fused native winnow_fps32 computes hash →
      // sliding-min → distinct per row with the positional hash array
      // living only in task-local scratch (see WinnowFps doc for why a
      // two-column pipeline must either materialize that corpus-sized
      // intermediate or risk CollapseProject re-running the md5 stage
      // per slice element). The exploded index — the ~4x-winnowed
      // small form — feeds all THREE consumers (df keep-list + both
      // self-join legs) with no materialization barrier, so building
      // the query runs nothing. Both consumers must plan the same scan
      // and exchange for exchange reuse to hash the documents once: the
      // documents are filtered on a non-null doc_id (which it always
      // is) before the repartition, so the pair side infers no filter
      // of its own, and the keep side counts doc_ids, not rows (the
      // same count), so column pruning keeps doc_id on its side too.
      // repartition first: hashing is compute-bound per row, so
      // parallelism = cores, not input splits.
      val docs = documents(s, d).filter(col("doc_id").isNotNull)
      val f = docs
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(graft.expressions.WinnowFps.winnow_fps32(col("text"), 8, 8))
            .as("fp"))
      // keep-list join (not broadcast): the discriminative-fp table is
      // ~all distinct fingerprints, far too large to broadcast at
      // corpus scale; both join legs key on fp, so the shuffle
      // partitioning carries into the pair self-join.
      val keep = f.groupBy(col("fp")).agg(count(col("doc_id")).as("df"))
        .filter(col("df") <= 128).select(col("fp"))
      val fk = f.join(keep, Seq("fp"))
      fk.as("x").join(fk.as("y"), col("x.fp") === col("y.fp") &&
          col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 24)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Within-document repetition signals (the Gopher-style quality
    // cuts): fraction of tokens consumed by the single most frequent
    // token, and fraction of token 5-grams that occur more than once
    // in the same document. Both are integer counts plus one exact
    // division, so fully oracle-checked. The shuffles key on
    // (doc_id, gram) — high cardinality, uniformly spread — so the
    // shape stays balanced at corpus scale; no cross-document state.
    "text_repetition" -> ((s, d) => {
      val docs = documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("grams", expr(
          "CASE WHEN size(toks) >= 5 THEN transform(sequence(1, size(toks) - 4)," +
            " i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1]," +
            " toks[i + 2], toks[i + 3])) ELSE array() END"))
      val uni = docs.select(col("doc_id"), explode(col("toks")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(max(col("n")).as("top_tok_n"), sum(col("n")).as("n_tokens"))
      val dup = docs.select(col("doc_id"), explode(col("grams")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("n") >= 2, col("n")).otherwise(lit(0L)))
          .as("dup5_n"))
      docs.select(col("doc_id"), size(col("grams")).cast("long").as("n_5grams"))
        .join(uni, Seq("doc_id"), "left")
        .join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("top_tok_n"),
          when(col("n_tokens") > 0,
            col("top_tok_n").cast("double") / col("n_tokens")).as("top_frac"),
          col("n_5grams"), coalesce(col("dup5_n"), lit(0L)).as("dup5_n"),
          when(col("n_5grams") > 0,
            coalesce(col("dup5_n"), lit(0L)).cast("double") / col("n_5grams"))
            .as("dup5_frac"))
        .orderBy(col("doc_id"))
    }),

    // Corpus heavy hitters through a BOUNDED SpaceSaving summary —
    // the top-10 token report computed with O(capacity) aggregation
    // state instead of a full (token, count) table. At 100 TB of web
    // text the full groupBy's shuffle carries billions of distinct
    // tokens to produce a 10-row answer; the sketch carries 64
    // counters per partial. Exactness: while distinct tokens ≤
    // capacity (true for this corpus vocabulary at every SF), no
    // eviction happens, err = 0 and counts are exact under any merge
    // order — the q_kmv_distinct "exact below the bound" discipline,
    // which is what lets the DuckDB oracle compare the real groupBy.
    "text_heavy_hitters" -> ((s, d) => {
      import graft.expressions.SpaceSavingTopK.space_saving_topk
      documents(s, d)
        .select(explode(expr(toksExpr)).as("t"))
        .agg(space_saving_topk(col("t"), 64).as("hh"))
        .select(posexplode(col("hh")).as(Seq("pos", "e")))
        .filter(col("pos") < 10)
        .select((col("pos") + 1).cast("long").as("rank"),
          col("e.token").as("token"), col("e.cnt").as("cnt"),
          col("e.err").as("err"))
        .orderBy(col("rank"))
    }),

    // CCNet-style boilerplate accounting: the fraction of a document's
    // token 5-gram occurrences whose gram recurs across >= 4 DISTINCT
    // documents — headers, navigation chrome, license blurbs and
    // template filler score high and get cut (or downweighted) before
    // training. Complements text_dup_spans (char-level spans, df >= 2)
    // with token-level df-thresholded accounting. Shape: gram explode →
    // distinct (doc, gram) → per-gram doc-frequency → join back to
    // occurrences → per-doc rollup. Both shuffles key on the gram
    // (high cardinality, uniform); the df table carries NO broadcast
    // hint — at corpus scale frequent-gram tables are huge, AQE picks
    // the join strategy (the text_tfidf contract).
    "text_boilerplate" -> ((s, d) => {
      val docs = documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("grams", expr(
          "CASE WHEN size(toks) >= 5 THEN transform(sequence(1, size(toks) - 4)," +
            " i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1]," +
            " toks[i + 2], toks[i + 3])) ELSE array() END"))
      val g = docs.select(col("doc_id"), explode(col("grams")).as("g"))
      val gdf = g.distinct()
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
      val per = g.join(gdf, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 4, 1L).otherwise(0L)).as("n_boiler"))
      documents(s, d).select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
        .withColumn("boiler_frac",
          when(col("n_grams") > 0,
            col("n_boiler").cast("double") / col("n_grams"))
            .otherwise(lit(0.0)))
        .orderBy(col("doc_id"))
    }),

    // N-gram NOVELTY per source — the diversity-vs-redundancy curve a
    // curation pipeline reads when deciding which sources still add
    // new content (a source whose docs mostly re-emit grams first seen
    // elsewhere is paying token budget for repetition; novelty falling
    // over a crawl is the data-exhaustion signal). A gram's ORIGIN is
    // the minimum doc_id containing it (deterministic attribution —
    // ingestion order, same convention as dedup survivor picks); a
    // doc's novel grams are those it originates. Report per source:
    // docs, distinct (doc,gram) occurrences, novel grams, novelty ppm.
    // Shape: gram explode → distinct (doc, gram) → per-gram min-doc
    // aggregate → join back on the gram → per-doc flag → source
    // rollup. Both shuffles key on the gram (high cardinality,
    // uniform); the origin table carries NO broadcast hint — at corpus
    // scale it is gram-cardinality-sized, AQE picks the strategy (the
    // text_tfidf contract). Output is |sources| rows.
    "text_ngram_novelty" -> ((s, d) => {
      val docs = documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("grams", expr(
          "CASE WHEN size(toks) >= 3 THEN transform(sequence(1, size(toks) - 2)," +
            " i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1]))" +
            " ELSE array() END"))
      val dg = docs.select(col("doc_id"), explode(col("grams")).as("g"))
        .distinct()
      val origin = dg.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      val per = dg.join(origin, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
      documents(s, d).select(col("doc_id"), col("source"))
        .join(per, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("n_grams"), lit(0L))).as("n_grams"),
          sum(coalesce(col("n_novel"), lit(0L))).as("n_novel"))
        .withColumn("novelty_ppm",
          expr("case when n_grams > 0 then n_novel * 1000000L div n_grams" +
            " else 0L end"))
        .orderBy(col("source"))
    }),

    // Collocation mining (phrase extraction): adjacent-token bigrams
    // ranked by integer LIFT — cnt(a,b)·N / (cnt(a)·cnt(b)), the
    // log-free PMI the text_keywords discipline established — with a
    // min-support floor of 5 so rare-coincidence pairs don't dominate.
    // The phrase-mining pass a tokenizer/vocabulary pipeline runs to
    // decide which multi-word units deserve single tokens. Shape: one
    // bigram explode + a (a,b) pair count (keyed on the pair — high
    // cardinality, uniform), the unigram table joined back on each
    // side (vocabulary-sized, NO broadcast hint — AQE decides, the
    // text_tfidf contract), corpus scalar N rides broadcast; top-20
    // is TakeOrdered, never a full sort.
    "text_collocations" -> ((s, d) => {
      val bg = documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 1)," +
            " i -> struct(toks[i - 1] as a, toks[i] as b))")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val uni = documents(s, d).select(explode(expr(toksExpr)).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val n = uni.agg(sum(col("c")).as("n"))
      bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_pair"))
        .filter(col("c_pair") >= 5)
        .join(uni.select(col("t").as("a"), col("c").as("c_a")), Seq("a"))
        .join(uni.select(col("t").as("b"), col("c").as("c_b")), Seq("b"))
        .crossJoin(broadcast(n))
        .withColumn("lift_ppm", expr(
          "cast(cast(c_pair as decimal(38,0)) * n * 1000000" +
            " div (c_a * c_b) as bigint)"))
        .select(col("a"), col("b"), col("c_pair"), col("c_a"),
          col("c_b"), col("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("a"), col("b"))
        .limit(20)
    }),

    // Karp-Rabin content fingerprint: sequential modular fold over
    // character codes (base 257 mod 1e9+7). Order-dependent by design
    // — it IS the document identity — and exactly portable because
    // all arithmetic is integer.
    "text_fingerprint" -> ((s, d) => {
      documents(s, d)
        .withColumn("fp", expr(
          "aggregate(transform(sequence(1, length(text))," +
            " i -> ascii(substring(text, i, 1)))," +
            " 0L, (acc, c) -> (acc * 257 + c) % 1000000007)"))
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    // Cross-document duplicated substring spans (the signal behind
    // substring-level training-data dedup, Lee et al. 2022: repeated
    // spans are memorization fuel even when whole documents differ).
    // Per doc: how many of its 16-char window POSITIONS carry a gram
    // that also appears in some other document, as count + ppm
    // fraction (integer floor-div — portable). Shape: positional grams
    // → distinct (doc, gram) → gram doc-frequency ≥ 2 keep-list →
    // join back to positions → per-doc count. Both shuffles key on the
    // gram (high cardinality, uniform); the keep-list join carries NO
    // broadcast hint — at corpus scale the shared-gram table is huge,
    // AQE picks the strategy (same contract as text_tfidf).
    "text_dup_spans" -> ((s, d) => {
      val grams = documents(s, d).select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(1, length(text) - 15))," +
          " i -> substring(text, i, 16))")).as("g"))
      val shared = grams.select(col("doc_id"), col("g")).distinct()
        .groupBy(col("g")).agg(count(lit(1)).as("docs"))
        .filter(col("docs") >= 2).select(col("g"))
      val dup = grams.join(shared, Seq("g"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_pos"))
      documents(s, d)
        .select(col("doc_id"),
          greatest(lit(1L), length(col("text")).cast("long") - 15)
            .as("n_pos"))
        .join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_pos"),
          coalesce(col("dup_pos"), lit(0L)).as("dup_pos"),
          expr("coalesce(dup_pos, 0L) * 1000000L div n_pos")
            .as("dup_ppm"))
        .orderBy(col("doc_id"))
    }),

    // Substring-level SCRUB (Lee et al. 2022's actual dedup output,
    // where text_dup_spans is the report): every 16-char window whose
    // gram appears in >= 2 documents is cut from all but the gram's
    // FIRST document (keep-one-copy = min doc_id — a global,
    // order-free policy, so the result is identical however the corpus
    // is partitioned). Overlapping cut windows merge into maximal
    // spans via gaps-and-islands (new island when a window starts past
    // the running max end); per doc the output is the merged span
    // count, chars removed, chars kept, and kept ppm. Scale shape:
    // positional grams -> gram-keyed keeper table (min doc_id, df>=2)
    // -> join back on the gram (no broadcast hint — shared-gram tables
    // are corpus-sized, AQE decides; the text_tfidf contract) -> one
    // doc_id-partitioned window pass. Nothing is quadratic; the window
    // partitions by document so skew is bounded by document length.
    "text_scrub_spans" -> ((s, d) => {
      val docs = documents(s, d)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_len"))
      val grams = docs.select(col("doc_id"), col("n_len"),
        posexplode(expr(
          "transform(sequence(1, greatest(1, length(text) - 15))," +
            " i -> substring(text, i, 16))")).as(Seq("p0", "g")))
        .select(col("doc_id"), (col("p0") + 1).as("st"),
          least(col("p0") + 16, col("n_len")).as("en"), col("g"))
      val keep = grams.select(col("doc_id"), col("g")).distinct()
        .groupBy(col("g"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("keep_doc"))
        .filter(col("df") >= 2)
        .select(col("g"), col("keep_doc"))
      val cut = grams.join(keep, Seq("g"))
        .filter(col("doc_id") =!= col("keep_doc"))
        .select(col("doc_id"), col("st"), col("en"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("st"))
      val prevEnd = max(col("en"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      val spans = cut
        .withColumn("ni",
          when(prevEnd.isNull || col("st") > prevEnd, 1L).otherwise(0L))
        .withColumn("island", sum(col("ni")).over(w))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("st")).as("s"), max(col("en")).as("e"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s") + 1).as("cut_chars"))
      docs.select(col("doc_id"), col("n_len"))
        .join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_len"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("cut_chars"), lit(0L)).as("cut_chars"))
        .withColumn("kept_chars", col("n_len") - col("cut_chars"))
        .withColumn("kept_ppm",
          expr("kept_chars * 1000000L div greatest(1L, n_len)"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-bigram-LM fluency: score each document by the mean
    // conditional probability of its token bigrams under the corpus's
    // own bigram counts — P(w2|w1) = c(w1 w2) / c(w1 ·). The classic
    // cheap LM quality cut (ln-perplexity is avoided on purpose: libm
    // differs across engines; each p is one exact IEEE division and
    // the mean goes through Num's decimal quantization). The prob
    // table joins on the bigram key with no broadcast hint — bigram
    // vocabulary at web scale is billions of rows, AQE decides (same
    // contract as text_tfidf).
    "text_bigram_lm" -> ((s, d) =>
      bigramFluency(s, d).orderBy(col("doc_id"))),

    // Kneser-Ney smoothed bigram fluency — the real LM smoothing
    // (text_bigram_lm is the unsmoothed MLE): with absolute discount
    // d = 3/4,  p_KN(w2|w1) = max(c12 − d, 0)/c1
    //                       + (d·N1+(w1·)/c1) · N1+(·w2)/B
    // (continuation probability = how many contexts w2 FOLLOWS, over
    // B = distinct bigram types — the insight that makes KN the
    // standard). Entirely rational, so the per-bigram score clears to
    // ONE exact integer division:
    //   p_ppm = (max(4·c12 − 3, 0)·B + 3·f1·pre2) · 1e6
    //             div (4·c1·B)                    (decimal(38,0)).
    // Per doc: bigram count, mean and min p_ppm (the weakest-link
    // bigram is the classic junk tell). Scale shape identical to
    // text_bigram_lm: every aggregate/join keys on the bigram or its
    // endpoints (vocabulary-sized, NO broadcast hint — AQE decides);
    // B rides broadcast as the one scalar.
    "text_kn_fluency" -> ((s, d) => {
      val bg = documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1)," +
            " i -> struct(toks[i - 1] as w1, toks[i] as w2," +
            " concat(toks[i - 1], ' ', toks[i]) as big))")).as("e"))
        .select(col("doc_id"), col("e.w1").as("w1"),
          col("e.w2").as("w2"), col("e.big").as("big"))
      val c2 = bg.groupBy(col("big"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val f1 = c2.groupBy(col("w1")).agg(count(lit(1)).as("f1"))
      val pre2 = c2.groupBy(col("w2")).agg(count(lit(1)).as("pre2"))
      val b = c2.agg(count(lit(1)).as("b"))
      val probs = c2.join(c1, Seq("w1")).join(f1, Seq("w1"))
        .join(pre2, Seq("w2"))
        .crossJoin(broadcast(b))
        .select(col("big"), expr(
          "cast((greatest(4 * c2 - 3, 0L) * cast(b as decimal(38,0))" +
            " + 3 * f1 * pre2) * 1000000" +
            " div (4 * cast(c1 as decimal(38,0)) * b) as bigint)")
          .as("p_ppm"))
      bg.join(probs, Seq("big"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(p_ppm) div count(1)").as("mean_kn_ppm"),
          min(col("p_ppm")).as("min_kn_ppm"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style quality bucketing (Wenzek et al. 2020 §4.3): split
    // each language's documents into head/middle/tail thirds by LM
    // fluency. CCNet assigns buckets by comparing each doc's score to
    // per-language perplexity CUTOFFS — not by a global rank — and so
    // does this: the fluency score is quantized to 1e-6 buckets, the
    // per-(lang, bucket) histogram is aggregated (bounded: ≤1e6+1
    // distinct buckets per language regardless of corpus size), tertile
    // cutoffs come from a descending cumulative count over that bounded
    // table, and docs join the tiny per-lang cutoff row to get their
    // bucket. No global window over the corpus, no per-lang ntile whose
    // partition would be "all of English" at 100 TB — the only wide
    // shuffles are the histogram groupBy and the lang-keyed cutoff
    // join (broadcast: one row per language). Ties at a cutoff all land
    // in the same (higher) bucket, exactly as a threshold comparison
    // must — bucket sizes are ~n/3, not exactly n/3, which is CCNet's
    // actual behavior. Docs under 2 tokens are unscorable and excluded
    // (CCNet likewise drops docs its LM cannot score).
    "text_ccnet_buckets" -> ((s, d) => {
      val scored = bigramFluency(s, d)
        .join(documents(s, d).select(col("doc_id"), col("lang"),
          col("n_chars")), Seq("doc_id"))
        // floor of an exact-identical IEEE double: same bucket on both
        // engines; mean_p ∈ [0,1] so q ∈ [0, 1e6], bounded domain.
        .withColumn("q", floor(col("mean_p") * lit(1000000.0)).cast("long"))
      val hist = scored.groupBy(col("lang"), col("q"))
        .agg(count(lit(1)).as("cnt"))
      val wDesc = Window.partitionBy(col("lang")).orderBy(col("q").desc)
      val cum = hist
        .withColumn("cum", sum(col("cnt")).over(wDesc))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
      // head cutoff: the highest q whose descending-cumulative count
      // reaches n/3 (integer cross-multiplied — no division); middle
      // cutoff likewise at 2n/3. One row per language.
      val cuts = cum.groupBy(col("lang")).agg(
        max(when(col("cum") * 3 >= col("n"), col("q"))).as("q_head"),
        max(when(col("cum") * 3 >= col("n") * 2, col("q"))).as("q_mid"))
      scored.join(broadcast(cuts), Seq("lang"))
        .withColumn("bucket",
          when(col("q") >= col("q_head"), lit("head"))
            .when(col("q") >= col("q_mid"), lit("middle"))
            .otherwise(lit("tail")))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("q")).as("q_lo"),
          max(col("q")).as("q_hi"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // Competence-based curriculum staging (Platanios et al. 2019: order
    // training data easy→hard by sentence rarity). Their rarity is
    // -Σ log p(w); the log-free integer stand-in is mean INVERSE corpus
    // frequency — each token contributes 1e6 div c(token), so rare
    // words (small c) dominate exactly as -log p would, and every
    // intermediate is an exact integer on both engines. Docs are cut
    // into 4 curriculum stages by difficulty QUARTILE — assigned via
    // the same bounded-histogram cutoff pattern as text_ccnet_buckets
    // (difficulty_ppm ≤ 1e6 has a bounded distinct domain no matter
    // the corpus size, so the cumulative window runs over a bounded
    // table, never over the corpus; docs then compare against a
    // broadcast 1-row cutoff — no global ntile). Magnitudes: each
    // per-token term ≤ 1e6, a pathological 1e9-token doc sums to 1e15
    // — safely inside long on both engines (the decimal(38,0)
    // escalation text_keywords needs for CORPUS-level products is not
    // needed for per-DOC sums). The cutoff row rides a broadcast cross
    // join (bounded by construction — PlanAuditSpec exemption).
    // Zero-token docs have no explode rows and are excluded, as
    // unscorable.
    "text_curriculum" -> ((s, d) => {
      val tok = documents(s, d)
        .select(col("doc_id"), explode(expr(toksExpr)).as("t"))
      val tc = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      val pd = tok.join(tc, Seq("t"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(expr("1000000L div c")).as("rarity_sum"))
        .withColumn("difficulty_ppm",
          expr("rarity_sum div n_tokens"))
      val hist = pd.groupBy(col("difficulty_ppm"))
        .agg(count(lit(1)).as("cnt"))
      val cum = hist
        .withColumn("cum",
          sum(col("cnt")).over(Window.orderBy(col("difficulty_ppm"))))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
      val cuts = cum.agg(
        min(when(col("cum") * 4 >= col("n"), col("difficulty_ppm")))
          .as("q1"),
        min(when(col("cum") * 4 >= col("n") * 2, col("difficulty_ppm")))
          .as("q2"),
        min(when(col("cum") * 4 >= col("n") * 3, col("difficulty_ppm")))
          .as("q3"))
      pd.crossJoin(broadcast(cuts))
        .withColumn("stage",
          when(col("difficulty_ppm") <= col("q1"), lit(1L))
            .when(col("difficulty_ppm") <= col("q2"), lit(2L))
            .when(col("difficulty_ppm") <= col("q3"), lit(3L))
            .otherwise(lit(4L)))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("rarity_sum")).as("sum_rarity"),
          min(col("difficulty_ppm")).as("d_lo"),
          max(col("difficulty_ppm")).as("d_hi"))
        .orderBy(col("stage"))
    }),

    // DSIR importance resampling (Xie et al. 2023): select raw-corpus
    // docs that look like a target domain by importance weight over a
    // HASHED feature space — the hashing is what makes DSIR scale-free
    // (the feature table is 1024 buckets regardless of vocabulary, so
    // the per-bucket lift table broadcasts at any corpus size; an
    // unhashed vocabulary table would be billions of rows). Target
    // domain = source 'src0'; features = md5-bucketed unigrams (the
    // engine-portable hash — same bytes both engines). DSIR's
    // log-ratio sum becomes the log-free integer analog: per-bucket
    // Laplace-smoothed probability lift in ppm, per-doc weight = mean
    // bucket lift, with the standard importance-weight CLIP (1e3×) to
    // bound variance — clipping is what importance-sampling practice
    // does anyway, and here it also bounds every per-doc sum:
    // lift_ppm ≤ 1e9 and doc tokens ≤ ~1e8, so lsum ≤ 1e17 < long.
    // The corpus-level ratio products run in decimal(38,0)
    // (c_t·N_r·1e6 reaches ~1e32 at web scale — the text_keywords
    // overflow contract). ONE token aggregation produces both the raw
    // and target bucket counts (no second corpus pass); the totals
    // ride a broadcast 1-row cross join (bounded — PlanAuditSpec
    // exemption); scoring joins the broadcast 1024-row lift table.
    "text_dsir" -> ((s, d) => {
      val tok = documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          explode(expr(toksExpr)).as("t"))
        .withColumn("b", expr(
          "cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint) % 1024"))
      val byB = tok.groupBy(col("b"))
        .agg(count(lit(1)).as("c_r"),
          sum(when(col("source") === "src0", lit(1L)).otherwise(lit(0L)))
            .as("c_t"))
      val tots = byB.agg(sum(col("c_r")).as("n_r"),
        sum(col("c_t")).as("n_t"))
      val lifts = byB.crossJoin(broadcast(tots))
        .withColumn("lift_ppm", least(expr(
          "cast(c_t + 1 as decimal(38,0)) * (n_r + 1024) * 1000000" +
            " div ((cast(c_r as decimal(38,0)) + 1) * (n_t + 1024))"),
          lit(1000000000L)))
        .select(col("b").as("lb"), col("lift_ppm"))
      tok.join(broadcast(lifts), col("b") === col("lb"))
        .groupBy(col("doc_id"), col("source"), col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("lift_ppm")).as("lsum"))
        .withColumn("weight_ppm", expr("lsum div n_tokens"))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_tokens"), col("weight_ppm"))
        .orderBy(col("weight_ppm").desc, col("doc_id"))
        .limit(100)
    }),

    // Gopher-style rule battery (Rae et al. 2021 §A1.1): the five
    // per-document quality cuts LM pipelines apply before near-dup
    // work — token-count bounds, mean token length band, symbol-char
    // ratio, alphabetic-token fraction, minimum stopword evidence —
    // each as its own 0/1 flag plus the conjunctive pass bit, so
    // downstream mixing can weight by individual rules rather than a
    // single opaque score. Pure per-row expression work off one scan
    // (no shuffle but the final sort); each ratio is one IEEE divide
    // of exact integers, so both engines agree bit-for-bit.
    "text_gopher_rules" -> ((s, d) =>
      gopherFlags(s, d)
        .select(col("doc_id"), col("n_tokens"), col("mean_tok_len"),
          col("r_count"), col("r_mean_len"), col("r_symbol"),
          col("r_alpha"), col("r_stop"), col("pass"))
        .orderBy(col("doc_id"))),

    // Classifier-score CALIBRATION against the rule battery: per
    // clamped-score bucket, how often does the hashed-linear
    // classifier's judgment agree with the Gopher rules' pass bit?
    // The acceptance report a pipeline runs before trusting a learned
    // quality filter to replace (or gate ahead of) its rule battery —
    // a well-calibrated score should show pass_ppm rising with the
    // bucket. Composes the two existing per-doc kernels with one
    // equi-join on doc_id and an 11-row aggregate. Bucketing shifts
    // the clamped score to NON-NEGATIVE before the integer divide:
    // Spark's `div` truncates toward zero while DuckDB's `//` floors,
    // so negative-operand division is the one integer op the two
    // engines disagree on — (clamp + 50) div 10 keeps every operand
    // non-negative and the engines identical.
    "text_score_calibration" -> ((s, d) => {
      val clf = queries("text_classifier_score")(s, d)
        .select(col("doc_id"), col("score"))
      gopherFlags(s, d).select(col("doc_id"), col("pass"))
        .join(clf, Seq("doc_id"))
        .withColumn("bucket",
          expr("(least(greatest(score, -50L), 50L) + 50L) div 10L"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pass")).as("n_pass"))
        .withColumn("pass_ppm", expr("n_pass * 1000000L div n_docs"))
        .orderBy(col("bucket"))
    }),

    // Per-source distribution drift: chi-square distance between each
    // source's token distribution and the corpus-wide one — the
    // "which source changed / doesn't belong" monitor run before
    // mixing. Chi-square, NOT KL/JS: divergences need log (libm
    // differs across engines), while Σ(p−q)²/(p+q) is rational — each
    // term a fixed IEEE sequence on exact counts, summed through
    // Num's quantized accumulation. Tokens absent from a source
    // contribute Σq over the complement, folded in CLOSED FORM as
    // (1 − Σ_present q) so only present (source, token) pairs are
    // ever materialized. Shuffles key on the token (high cardinality)
    // and (source); the corpus-total rides as a broadcast scalar.
    "text_source_drift" -> ((s, d) => {
      val tok = documents(s, d)
        .select(col("source"), explode(expr(toksExpr)).as("t"))
      val st = tok.groupBy(col("source"), col("t"))
        .agg(count(lit(1)).as("c"))
      val ct = tok.groupBy(col("t")).agg(count(lit(1)).as("ct"))
      val ns = st.groupBy(col("source")).agg(sum(col("c")).as("ns"))
      val n = ct.agg(sum(col("ct")).as("n"))
      val terms = st.join(ct, Seq("t"))
        .join(ns, Seq("source"))
        .crossJoin(broadcast(n))
        .withColumn("p", col("c").cast("double") / col("ns"))
        .withColumn("q", col("ct").cast("double") / col("n"))
        .withColumn("term",
          (col("p") - col("q")) * (col("p") - col("q")) /
            (col("p") + col("q")))
      terms.groupBy(col("source"))
        .agg(max(col("ns")).as("n_tokens"),
          (dsum(col("term")) + lit(1.0) - dsum(col("q"))).as("chi2"))
        .orderBy(col("source"))
    }),

    // Zipf rank-frequency head: the top-40 tokens with rank,
    // count, the rank×count Zipf product (≈constant under Zipf's
    // law — the corpus-health diagnostic) and the cumulative ppm
    // share of all token occurrences. Scale shape: the vocabulary
    // never sees a global window — the head is a distributed top-k
    // (TakeOrderedAndProject over the token-count aggregate) and
    // ranks/cumulative sums are computed on those 40 rows only; the
    // corpus contributes one map-side-combinable count per distinct
    // token and one scalar total. Integer products and floor-div
    // ppm, so fully oracle-exact.
    "text_zipf" -> ((s, d) => {
      val counts = documents(s, d)
        .select(explode(expr(toksExpr)).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      val top = counts
        .orderBy(col("cnt").desc, col("t")).limit(40)
      val wRank = Window.orderBy(col("cnt").desc, col("t"))
      top.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .withColumn("zipf_prod", col("rank") * col("cnt"))
        .withColumn("cum_ppm",
          expr("sum(cnt) OVER (ORDER BY cnt DESC, t" +
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)" +
            " * 1000000L div total"))
        .select(col("rank"), col("t").as("token"), col("cnt"),
          col("zipf_prod"), col("cum_ppm"))
        .orderBy(col("rank"))
    }),

    // Hashed-linear-classifier inference (the fastText-style quality
    // classifier every LM data pipeline runs over the full corpus):
    // token -> hashing-trick bucket (md5, the cross-engine hash) ->
    // weight lookup -> per-doc score sum. The weight table here is a
    // deterministic stand-in ((bucket % 21) - 10; a trained model
    // ships real weights — broadcast a 4096-row table or bake them
    // into the same expression); the Spark-side shape is the real
    // one: a single scan, per-row array fold, NO explode and NO
    // shuffle — at 100 TB this stays scan-bound, the ideal plan for
    // per-document inference. All-integer arithmetic, oracle-exact.
    "text_classifier_score" -> ((s, d) => {
      documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("score", expr(
          "aggregate(toks, 0L, (a, t) -> a + " +
            "(cast(conv(substring(md5(concat('clf', t)), 1, 8), 16, 10)" +
            " as bigint) % 4096) % 21 - 10)"))
        .withColumn("pred", (col("score") > 0).cast("long"))
        .select(col("doc_id"), col("n_tokens"), col("score"), col("pred"))
        .orderBy(col("doc_id"))
    }),

    // Sentence-level exact dedup inventory (the C4 step: drop any
    // three-sentence span seen before; here the unit is one
    // sentence-ish span >= 30 chars). Emits the corpus-wide inventory
    // of repeated spans — which sentences, how many docs, how many
    // occurrences — the report that drives both boilerplate removal
    // and contamination review. Two shuffles, both keyed on the span
    // text (high-cardinality, uniform): distinct(doc,span) -> df, and
    // the occurrence count; the span table never broadcasts (web-scale
    // span vocab is huge), matching text_tfidf's AQE contract.
    // Duplicates are synthesized (documents has none naturally): docs
    // ending in 0 re-enter under doc_id+100000, the same convention as
    // mm_dedup_binary / Dedup.dupedCorpus.
    "text_para_dedup" -> ((s, d) => {
      val base = documents(s, d)
      val duped = base.select(col("doc_id"), col("text")).unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      val sents = duped
        .select(col("doc_id"), explode(expr(
          "filter(transform(split(text, '\\\\.\\\\s+'), p -> trim(p))," +
            " p -> length(p) >= 30)")).as("sent"))
      val df = sents.select(col("doc_id"), col("sent")).distinct()
        .groupBy(col("sent")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
      val occ = sents.groupBy(col("sent")).agg(count(lit(1)).as("n_occ"))
      df.join(occ, Seq("sent"))
        .select(col("sent"), col("n_docs"), col("n_occ"),
          length(col("sent")).cast("long").as("sent_len"))
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("sent"))
    }),

    // Flesch reading-ease score as a readability quality cut: words,
    // sentence-ish spans, and a vowel-group syllable proxy, combined
    // in milli-points with integer floor division so both engines
    // agree exactly (the real-valued formula is 206.835 − 1.015·W/S −
    // 84.6·Syl/W). Shuffle-free per-row expression work off one scan —
    // the same scan-bound shape as the rest of the quality battery.
    "text_readability" -> ((s, d) => {
      documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_words", size(col("toks")).cast("long"))
        .withColumn("n_sents", greatest(lit(1L), size(expr(
          "filter(transform(split(text, '\\\\.\\\\s+'), p -> trim(p))," +
            " p -> p != '')")).cast("long")))
        .withColumn("n_syll", expr(
          "aggregate(toks, 0L, (a, w) -> a +" +
            " greatest(1L, cast(regexp_count(lower(w), '[aeiouy]+')" +
            " as bigint)))"))
        .withColumn("flesch_x1000", expr(
          "206835 - (1015 * n_words) div n_sents" +
            " - (84600 * n_syll) div n_words"))
        .select(col("doc_id"), col("n_words"), col("n_sents"),
          col("n_syll"), col("flesch_x1000"))
        .orderBy(col("doc_id"))
    }),

    // Character-diversity score: Gini impurity of each document's
    // character distribution — the log-free stand-in for character
    // entropy (libm-free by design, like the rest of the battery):
    // gini_ppm = 1e6 − Σ cᵢ² · 1e6 div n². Low values flag
    // single-character floods and keyboard-mash spam that token-level
    // repetition rules miss. Two character-keyed aggregates, both
    // map-side combinable; all integer, oracle-exact.
    "text_char_gini" -> ((s, d) => {
      val chars = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("cnt"))
      chars.groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_chars"),
          count(lit(1)).as("n_distinct"),
          sum(col("cnt") * col("cnt")).as("ss"))
        .select(col("doc_id"), col("n_chars"), col("n_distinct"),
          expr("1000000L - ss * 1000000L div (n_chars * n_chars)")
            .as("gini_ppm"))
        .orderBy(col("doc_id"))
    }),

    // Per-source distinctive keywords: tokens over-represented in one
    // source vs the whole corpus, by integer lift (source ppm //
    // corpus ppm — the log-free pointwise-mutual-information stand-in).
    // The count*1e6 products run in decimal(38,0): at web scale a
    // per-source token count can reach ~1e12, and long multiplication
    // would WRAP SILENTLY where DuckDB's BIGINT errors — decimal keeps
    // the two engines value-identical at any scale. `div` brings the
    // ppm back to bigint (<=1e6), so output types are unchanged. One
    // token-explode aggregation produces both the per-(source, token)
    // and global counts (the global side re-aggregates the first —
    // |vocab| rows, not the corpus); the rank window runs over
    // source-vocab rows only. min-count 5 kills one-off typos.
    "text_keywords" -> ((s, d) => {
      val st = documents(s, d)
        .select(col("source"), explode(expr(toksExpr)).as("t"))
        .groupBy(col("source"), col("t"))
        .agg(count(lit(1)).as("c_st"))
      val sourceTot = st.groupBy(col("source").as("st_source"))
        .agg(sum(col("c_st")).as("source_total"))
      val global = st.groupBy(col("t").as("g_t"))
        .agg(sum(col("c_st")).as("c_t"))
      val tot = global.agg(sum(col("c_t")).as("corpus_total"))
      val scored = st
        .join(sourceTot, col("source") === col("st_source"))
        .join(global, col("t") === col("g_t"))
        .crossJoin(broadcast(tot))
        .filter(col("c_st") >= 5)
        .withColumn("ppm_source",
          expr("cast(c_st as decimal(38,0)) * 1000000 div source_total"))
        .withColumn("ppm_corpus",
          expr("cast(c_t as decimal(38,0)) * 1000000 div corpus_total"))
        .filter(col("ppm_corpus") > 0)
        .withColumn("lift_x100",
          expr("ppm_source * 100L div ppm_corpus"))
      scored
        .withColumn("rank", row_number().over(Window
          .partitionBy(col("source"))
          .orderBy(col("lift_x100").desc, col("t"))).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank"), col("t").as("token"),
          col("c_st"), col("ppm_source"), col("lift_x100"))
        .orderBy(col("source"), col("rank"))
    }),

    // Vocabulary growth curve (Heaps' law readout): distinct BIGRAMS
    // accumulated per corpus decile — flattening growth means more
    // data is repeating itself; unabated growth means the corpus is
    // still adding diversity. Bigrams, not unigrams: a small closed
    // unigram vocabulary saturates in the first slice of any corpus
    // (the curve degenerates to one row), while the combinatorial
    // bigram space keeps discriminating. Each bigram contributes its
    // FIRST decile (a min aggregate over the gram stream), so the
    // curve is one groupBy + a 10-row running sum — no per-decile
    // rescans.
    "text_vocab_growth" -> ((s, d) => {
      val nd = documents(s, d)
        .agg((max(col("doc_id")) + 1).as("n_docs"))
      val firstBucket = documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1)," +
            " i -> concat_ws(' ', toks[i - 1], toks[i]))")).as("t"))
        .crossJoin(broadcast(nd))
        .select(col("t"),
          expr("least(9L, doc_id * 10 div n_docs)").as("bucket"))
        .groupBy(col("t")).agg(min(col("bucket")).as("first_bucket"))
      firstBucket.groupBy(col("first_bucket"))
        .agg(count(lit(1)).as("n_new_tokens"))
        .withColumn("vocab_size", sum(col("n_new_tokens")).over(
          Window.orderBy(col("first_bucket"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select((col("first_bucket") + 1).as("decile"),
          col("n_new_tokens"), col("vocab_size"))
        .orderBy(col("decile"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "text_token_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($sqlToks)) AS BIGINT) AS total_tokens,
         |  ${sqlAvg(s"CAST(len($sqlToks) AS DOUBLE)")} AS avg_tokens,
         |  MAX(len(text)) AS max_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $sqlToks AS toks FROM documents)
         |SELECT doc_id, len(toks) AS n_tokens,
         |  len(list_filter(toks, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")})))
         |    AS n_stop,
         |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
         |  CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
         |    AS DOUBLE) / len(text) AS digit_ratio,
         |  CASE WHEN len(toks) < 10 THEN 'too_short'
         |       WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.5 THEN 'boilerplate'
         |       ELSE 'ok' END AS quality_bucket
         |FROM t ORDER BY doc_id""".stripMargin,

    "text_langid" -> {
      val scores = langMarkers.map { case (name, _, markers) =>
        s"len(list_filter(toks, t -> t IN (${markers.map("'" + _ + "'").mkString(",")}))) AS s_$name"
      }.mkString(",\n  ")
      val packed = langMarkers.map { case (name, code, _) =>
        s"s_$name * 8 + $code"
      }.mkString(", ")
      val cases = langMarkers.map { case (name, code, _) =>
        s"WHEN greatest($packed) % 8 = $code THEN '$name'"
      }.mkString(" ")
      s"""WITH t AS (SELECT lang, $sqlToks AS toks FROM documents),
         |s AS (SELECT lang, $scores FROM t)
         |SELECT lang, CASE $cases END AS predicted, COUNT(*) AS n
         |FROM s GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
    },

    "text_bigram_coverage" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |b AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 2 THEN
         |      list_transform(generate_series(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i + 1])
         |    ELSE [] END AS bigrams
         |  FROM t),
         |bg AS (SELECT doc_id, u.b FROM b, UNNEST(bigrams) u(b)),
         |common AS (
         |  SELECT b FROM bg GROUP BY b HAVING COUNT(*) >= 5),
         |nc AS (
         |  SELECT doc_id, COUNT(*) AS n_common FROM bg
         |  WHERE b IN (SELECT b FROM common) GROUP BY doc_id)
         |SELECT b.doc_id, CAST(len(b.bigrams) AS BIGINT) AS n_bigrams,
         |  COALESCE(nc.n_common, 0) AS n_common,
         |  CASE WHEN len(b.bigrams) > 0 THEN
         |    CAST(COALESCE(nc.n_common, 0) AS DOUBLE) / len(b.bigrams)
         |  END AS coverage
         |FROM b LEFT JOIN nc ON b.doc_id = nc.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "text_winnow" ->
      s"""WITH $sqlWinnow
         |SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles,
         |  CAST(len(fps) AS BIGINT) AS n_fp,
         |  CAST(list_sum(fps) AS BIGINT) AS fp_sum
         |FROM w ORDER BY doc_id""".stripMargin,

    "text_winnow_pairs" ->
      s"""WITH $sqlWinnow,
         |f0 AS (SELECT doc_id, u.fp FROM w, UNNEST(fps) u(fp)),
         |keep AS (SELECT fp FROM f0 GROUP BY fp HAVING COUNT(*) <= 128),
         |f AS (SELECT doc_id, f0.fp FROM f0 JOIN keep ON f0.fp = keep.fp)
         |SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS n_shared
         |FROM f x JOIN f y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 24
         |ORDER BY a_id, b_id""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, toks,
         |    $fiveGramsSql AS grams
         |  FROM t),
         |uni AS (
         |  SELECT doc_id, MAX(n) AS top_tok_n, SUM(n) AS n_tokens FROM (
         |    SELECT doc_id, u.t, COUNT(*) AS n FROM t, UNNEST(toks) u(t)
         |    GROUP BY doc_id, u.t) GROUP BY doc_id),
         |dup AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS dup5_n FROM (
         |    SELECT doc_id, u.g, COUNT(*) AS n FROM g, UNNEST(grams) u(g)
         |    GROUP BY doc_id, u.g) GROUP BY doc_id)
         |SELECT g.doc_id, CAST(uni.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(uni.top_tok_n AS BIGINT) AS top_tok_n,
         |  CASE WHEN uni.n_tokens > 0 THEN
         |    CAST(uni.top_tok_n AS DOUBLE) / uni.n_tokens END AS top_frac,
         |  CAST(len(g.grams) AS BIGINT) AS n_5grams,
         |  CAST(COALESCE(dup.dup5_n, 0) AS BIGINT) AS dup5_n,
         |  CASE WHEN len(g.grams) > 0 THEN
         |    CAST(COALESCE(dup.dup5_n, 0) AS DOUBLE) / len(g.grams)
         |  END AS dup5_frac
         |FROM g LEFT JOIN uni ON g.doc_id = uni.doc_id
         |LEFT JOIN dup ON g.doc_id = dup.doc_id
         |ORDER BY g.doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(text) + 1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 257 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_dup_spans" ->
      """WITH g AS MATERIALIZED (
        |  SELECT doc_id, u.g FROM documents,
        |  UNNEST(list_transform(generate_series(1, greatest(1, len(text) - 15)),
        |    i -> substr(text, i, 16))) u(g)),
        |shared AS (
        |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM g)
        |  GROUP BY g HAVING COUNT(*) >= 2),
        |dup AS (
        |  SELECT doc_id, COUNT(*) AS dup_pos FROM g JOIN shared USING (g)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, greatest(1, len(d.text) - 15) AS n_pos,
        |  CAST(COALESCE(dup.dup_pos, 0) AS BIGINT) AS dup_pos,
        |  CAST(COALESCE(dup.dup_pos, 0) * 1000000 AS BIGINT)
        |    // greatest(1, len(d.text) - 15) AS dup_ppm
        |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_scrub_spans" ->
      """WITH g AS MATERIALIZED (
        |  SELECT doc_id, u.i AS st,
        |    least(u.i + 15, len(text)) AS en,
        |    substr(text, u.i, 16) AS g
        |  FROM documents,
        |  UNNEST(generate_series(1, greatest(1, len(text) - 15))) u(i)),
        |keep AS (
        |  SELECT g, MIN(doc_id) AS keep_doc
        |  FROM (SELECT DISTINCT doc_id, g FROM g)
        |  GROUP BY g HAVING COUNT(*) >= 2),
        |cut AS (
        |  SELECT doc_id, st, en FROM g JOIN keep USING (g)
        |  WHERE doc_id <> keep_doc),
        |isl AS (
        |  SELECT doc_id, st, en,
        |    CASE WHEN MAX(en) OVER (PARTITION BY doc_id ORDER BY st
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |        IS NULL
        |      OR st > MAX(en) OVER (PARTITION BY doc_id ORDER BY st
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS ni
        |  FROM cut),
        |isl2 AS (
        |  SELECT doc_id, st, en,
        |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY st) AS island
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, island, MIN(st) AS s, MAX(en) AS e
        |  FROM isl2 GROUP BY doc_id, island),
        |per AS (
        |  SELECT doc_id, COUNT(*) AS n_spans,
        |    CAST(SUM(e - s + 1) AS BIGINT) AS cut_chars
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, len(d.text) AS n_len,
        |  COALESCE(per.n_spans, 0) AS n_spans,
        |  COALESCE(per.cut_chars, 0) AS cut_chars,
        |  len(d.text) - COALESCE(per.cut_chars, 0) AS kept_chars,
        |  (len(d.text) - COALESCE(per.cut_chars, 0)) * 1000000
        |    // greatest(1, len(d.text)) AS kept_ppm
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_heavy_hitters" -> {
      s"""WITH g AS (
         |  SELECT u.t AS token, COUNT(*) AS cnt
         |  FROM (SELECT $sqlToks AS toks FROM documents), UNNEST(toks) u(t)
         |  GROUP BY u.t)
         |SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
         |  token, cnt, CAST(0 AS BIGINT) AS err
         |FROM g ORDER BY cnt DESC, token LIMIT 10""".stripMargin
    },

    "text_boilerplate" -> {
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |gr AS MATERIALIZED (
         |  SELECT doc_id, u.g FROM (
         |    SELECT doc_id,
         |      $fiveGramsSql AS grams
         |    FROM t), UNNEST(grams) u(g)),
         |f AS (
         |  SELECT g, COUNT(*) AS df
         |  FROM (SELECT DISTINCT doc_id, g FROM gr) GROUP BY g),
         |per AS (
         |  SELECT gr.doc_id, COUNT(*) AS n_grams,
         |    CAST(SUM(CASE WHEN f.df >= 4 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_boiler
         |  FROM gr JOIN f USING (g) GROUP BY gr.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(COALESCE(per.n_boiler, 0) AS BIGINT) AS n_boiler,
         |  CASE WHEN COALESCE(per.n_grams, 0) > 0
         |    THEN CAST(per.n_boiler AS DOUBLE) / per.n_grams
         |    ELSE 0.0 END AS boiler_frac
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "text_ngram_novelty" -> {
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |dg AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, u.g FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(toks) >= 3 THEN
         |        list_transform(generate_series(1, len(toks) - 2),
         |          i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
         |      ELSE [] END AS grams
         |    FROM t), UNNEST(grams) u(g)),
         |origin AS (
         |  SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g),
         |per AS (
         |  SELECT dg.doc_id, COUNT(*) AS n_grams,
         |    SUM(CASE WHEN o.first_doc = dg.doc_id THEN 1 ELSE 0 END)
         |      AS n_novel
         |  FROM dg JOIN origin o USING (g) GROUP BY dg.doc_id)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(COALESCE(per.n_grams, 0)) AS BIGINT) AS n_grams,
         |  CAST(SUM(COALESCE(per.n_novel, 0)) AS BIGINT) AS n_novel,
         |  CAST(CASE WHEN SUM(COALESCE(per.n_grams, 0)) > 0
         |    THEN SUM(COALESCE(per.n_novel, 0)) * 1000000
         |           // SUM(COALESCE(per.n_grams, 0))
         |    ELSE 0 END AS BIGINT) AS novelty_ppm
         |FROM documents d LEFT JOIN per USING (doc_id)
         |GROUP BY d.source
         |ORDER BY d.source""".stripMargin
    },

    "text_kn_fluency" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |bg AS MATERIALIZED (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
         |    toks[i] || ' ' || toks[i + 1] AS big
         |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) u(i)
         |  WHERE len(toks) >= 2),
         |c2 AS (
         |  SELECT big, w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2, 3),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
         |f1 AS (SELECT w1, COUNT(*) AS f1 FROM c2 GROUP BY 1),
         |pre2 AS (SELECT w2, COUNT(*) AS pre2 FROM c2 GROUP BY 1),
         |b AS (SELECT COUNT(*) AS b FROM c2),
         |probs AS (
         |  SELECT big,
         |    CAST((greatest(4 * c2.c2 - 3, 0)::HUGEINT * b.b
         |      + 3 * f1.f1 * pre2.pre2) * 1000000
         |      // (4 * c1.c1::HUGEINT * b.b) AS BIGINT) AS p_ppm
         |  FROM c2 JOIN c1 USING (w1) JOIN f1 USING (w1)
         |    JOIN pre2 USING (w2) CROSS JOIN b)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mean_kn_ppm,
         |  MIN(p_ppm) AS min_kn_ppm
         |FROM bg JOIN probs USING (big)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "text_collocations" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |bg AS (
         |  SELECT toks[i] AS a, toks[i + 1] AS b
         |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) u(i)
         |  WHERE len(toks) >= 2),
         |uni AS (
         |  SELECT tok AS t, COUNT(*) AS c FROM (
         |    SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
         |n AS (SELECT SUM(c) AS n FROM uni),
         |p AS (
         |  SELECT a, b, COUNT(*) AS c_pair FROM bg GROUP BY 1, 2
         |  HAVING COUNT(*) >= 5)
         |SELECT a, b, c_pair, ua.c AS c_a, ub.c AS c_b,
         |  CAST(CAST(c_pair AS HUGEINT) * n.n * 1000000
         |    // (ua.c * ub.c) AS BIGINT) AS lift_ppm
         |FROM p JOIN uni ua ON ua.t = a JOIN uni ub ON ub.t = b
         |CROSS JOIN n
         |ORDER BY lift_ppm DESC, a, b LIMIT 20""".stripMargin,

    "text_bigram_lm" -> {
      s"""$bigramProbsSql
         |SELECT doc_id, COUNT(*) AS n_bigrams, ${sqlAvg("p")} AS mean_p
         |FROM bg JOIN probs USING (big)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "text_ccnet_buckets" -> {
      s"""$bigramProbsSql,
         |score AS (
         |  SELECT doc_id, ${sqlAvg("p")} AS mean_p
         |  FROM bg JOIN probs USING (big) GROUP BY doc_id),
         |scored AS (
         |  SELECT s.doc_id, d.lang, d.n_chars,
         |    CAST(floor(mean_p * 1000000.0) AS BIGINT) AS q
         |  FROM score s JOIN documents d USING (doc_id)),
         |hist AS (
         |  SELECT lang, q, COUNT(*) AS cnt FROM scored GROUP BY lang, q),
         |cum AS (
         |  SELECT lang, q,
         |    SUM(cnt) OVER (PARTITION BY lang ORDER BY q DESC) AS cum,
         |    SUM(cnt) OVER (PARTITION BY lang) AS n
         |  FROM hist),
         |cuts AS (
         |  SELECT lang,
         |    MAX(CASE WHEN cum * 3 >= n THEN q END) AS q_head,
         |    MAX(CASE WHEN cum * 3 >= n * 2 THEN q END) AS q_mid
         |  FROM cum GROUP BY lang)
         |SELECT s.lang,
         |  CASE WHEN q >= q_head THEN 'head'
         |       WHEN q >= q_mid THEN 'middle' ELSE 'tail' END AS bucket,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  MIN(q) AS q_lo, MAX(q) AS q_hi
         |FROM scored s JOIN cuts USING (lang)
         |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin
    },

    "text_curriculum" -> {
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, unnest($sqlToks) AS t FROM documents),
         |tc AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |    CAST(SUM(1000000 // c) AS BIGINT) AS rarity_sum,
         |    CAST(CAST(SUM(1000000 // c) AS BIGINT) // COUNT(*)
         |      AS BIGINT) AS difficulty_ppm
         |  FROM tok JOIN tc USING (t) GROUP BY doc_id),
         |hist AS (
         |  SELECT difficulty_ppm AS q, COUNT(*) AS cnt FROM pd GROUP BY 1),
         |cum AS (
         |  SELECT q, SUM(cnt) OVER (ORDER BY q) AS cum,
         |    SUM(cnt) OVER () AS n
         |  FROM hist),
         |cuts AS (
         |  SELECT
         |    MIN(CASE WHEN cum * 4 >= n THEN q END) AS q1,
         |    MIN(CASE WHEN cum * 4 >= n * 2 THEN q END) AS q2,
         |    MIN(CASE WHEN cum * 4 >= n * 3 THEN q END) AS q3
         |  FROM cum)
         |SELECT CAST(CASE WHEN difficulty_ppm <= q1 THEN 1
         |    WHEN difficulty_ppm <= q2 THEN 2
         |    WHEN difficulty_ppm <= q3 THEN 3 ELSE 4 END AS BIGINT)
         |    AS stage,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(rarity_sum) AS BIGINT) AS sum_rarity,
         |  MIN(difficulty_ppm) AS d_lo, MAX(difficulty_ppm) AS d_hi
         |FROM pd, cuts
         |GROUP BY 1 ORDER BY stage""".stripMargin
    },

    "text_dsir" -> {
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, source, lang,
         |    ('0x' || substr(md5(t), 1, 8))::BIGINT % 1024 AS b
         |  FROM (SELECT doc_id, source, lang, unnest($sqlToks) AS t
         |        FROM documents)),
         |byb AS (
         |  SELECT b, COUNT(*) AS c_r,
         |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c_t
         |  FROM tok GROUP BY b),
         |tots AS (
         |  SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
         |    CAST(SUM(c_t) AS BIGINT) AS n_t FROM byb),
         |lifts AS (
         |  SELECT b, least(
         |    CAST(c_t + 1 AS HUGEINT) * (n_r + 1024) * 1000000
         |      // ((CAST(c_r AS HUGEINT) + 1) * (n_t + 1024)),
         |    1000000000) AS lift_ppm
         |  FROM byb, tots),
         |per AS (
         |  SELECT doc_id, source, lang, COUNT(*) AS n_tokens,
         |    CAST(SUM(lift_ppm) AS BIGINT) AS lsum
         |  FROM tok JOIN lifts USING (b)
         |  GROUP BY doc_id, source, lang)
         |SELECT doc_id, source, lang, n_tokens,
         |  CAST(lsum // n_tokens AS BIGINT) AS weight_ppm
         |FROM per ORDER BY weight_ppm DESC, doc_id LIMIT 100""".stripMargin
    },

    "text_gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $sqlToks AS toks FROM documents),
         |m AS (
         |  SELECT doc_id, text,
         |    $gopherSignalsSql
         |  FROM t),
         |r AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(tok_chars AS DOUBLE) / n_tokens AS mean_tok_len,
         |    CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
         |      THEN 1 ELSE 0 END AS r_count,
         |    CASE WHEN CAST(tok_chars AS DOUBLE) / n_tokens >= 2.0
         |          AND CAST(tok_chars AS DOUBLE) / n_tokens <= 8.0
         |      THEN 1 ELSE 0 END AS r_mean_len,
         |    CASE WHEN CAST(n_sym AS DOUBLE) / len(text) < 0.1
         |      THEN 1 ELSE 0 END AS r_symbol,
         |    CASE WHEN CAST(n_alpha AS DOUBLE) / n_tokens > 0.8
         |      THEN 1 ELSE 0 END AS r_alpha,
         |    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
         |  FROM m)
         |SELECT doc_id, n_tokens, mean_tok_len,
         |  CAST(r_count AS BIGINT) AS r_count,
         |  CAST(r_mean_len AS BIGINT) AS r_mean_len,
         |  CAST(r_symbol AS BIGINT) AS r_symbol,
         |  CAST(r_alpha AS BIGINT) AS r_alpha,
         |  CAST(r_stop AS BIGINT) AS r_stop,
         |  CAST(CASE WHEN r_count + r_mean_len + r_symbol + r_alpha
         |    + r_stop = 5 THEN 1 ELSE 0 END AS BIGINT) AS pass
         |FROM r ORDER BY doc_id""".stripMargin,

    "text_source_drift" ->
      s"""WITH tok AS MATERIALIZED (
         |  SELECT source, u.t
         |  FROM (SELECT source, $sqlToks AS toks FROM documents),
         |  UNNEST(toks) u(t)),
         |st AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |ct AS (SELECT t, COUNT(*) AS ct FROM tok GROUP BY 1),
         |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns
         |       FROM st GROUP BY 1),
         |n AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM ct),
         |terms AS (
         |  SELECT st.source, ns.ns,
         |    CAST(st.c AS DOUBLE) / ns.ns AS p,
         |    CAST(ct.ct AS DOUBLE) / n.n AS q
         |  FROM st JOIN ct USING (t) JOIN ns USING (source), n)
         |SELECT source, MAX(ns) AS n_tokens,
         |  ${sqlSum("(p - q) * (p - q) / (p + q)")} + 1.0
         |    - ${sqlSum("q")} AS chi2
         |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    "text_zipf" ->
      s"""WITH c AS MATERIALIZED (
         |  SELECT u.t, COUNT(*) AS cnt
         |  FROM (SELECT $sqlToks AS toks FROM documents), UNNEST(toks) u(t)
         |  GROUP BY u.t),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
         |top AS (SELECT * FROM c ORDER BY cnt DESC, t LIMIT 40)
         |SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, t) AS rank,
         |  t AS token, cnt,
         |  ROW_NUMBER() OVER (ORDER BY cnt DESC, t) * cnt AS zipf_prod,
         |  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    * 1000000 // total AS BIGINT) AS cum_ppm
         |FROM top, tot ORDER BY rank""".stripMargin,

    "text_classifier_score" ->
      s"""SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(list_sum(list_transform(toks, t ->
         |    ('0x' || substr(md5('clf' || t), 1, 8))::BIGINT % 4096 % 21
         |      - 10)), 0) AS BIGINT) AS score,
         |  CAST(CASE WHEN COALESCE(list_sum(list_transform(toks, t ->
         |    ('0x' || substr(md5('clf' || t), 1, 8))::BIGINT % 4096 % 21
         |      - 10)), 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "text_score_calibration" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
         |clf AS (
         |  SELECT doc_id,
         |    CAST(COALESCE(list_sum(list_transform(toks, t ->
         |      ('0x' || substr(md5('clf' || t), 1, 8))::BIGINT % 4096 % 21
         |        - 10)), 0) AS BIGINT) AS score
         |  FROM t),
         |m AS (
         |  SELECT doc_id,
         |    $gopherSignalsSql,
         |    len(text) AS text_len
         |  FROM t),
         |g AS (
         |  SELECT doc_id,
         |    CASE WHEN (CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
         |        THEN 1 ELSE 0 END)
         |      + (CASE WHEN CAST(tok_chars AS DOUBLE) / n_tokens >= 2.0
         |          AND CAST(tok_chars AS DOUBLE) / n_tokens <= 8.0
         |        THEN 1 ELSE 0 END)
         |      + (CASE WHEN CAST(n_sym AS DOUBLE) / text_len < 0.1
         |        THEN 1 ELSE 0 END)
         |      + (CASE WHEN CAST(n_alpha AS DOUBLE) / n_tokens > 0.8
         |        THEN 1 ELSE 0 END)
         |      + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) = 5
         |      THEN 1 ELSE 0 END AS pass
         |  FROM m)
         |SELECT CAST((least(greatest(score, -50), 50) + 50) // 10
         |    AS BIGINT) AS bucket,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(pass) AS BIGINT) AS n_pass,
         |  CAST(CAST(SUM(pass) AS BIGINT) * 1000000 // COUNT(*)
         |    AS BIGINT) AS pass_ppm
         |FROM g JOIN clf USING (doc_id)
         |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "text_para_dedup" ->
      """WITH duped AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |s AS MATERIALIZED (
        |  SELECT doc_id, u.sent FROM (
        |    SELECT doc_id,
        |      list_filter(list_transform(string_split_regex(text, '\.\s+'),
        |        p -> trim(p)), p -> len(p) >= 30) AS sents
        |    FROM duped), UNNEST(sents) u(sent)),
        |df AS (
        |  SELECT sent, COUNT(*) AS n_docs
        |  FROM (SELECT DISTINCT doc_id, sent FROM s)
        |  GROUP BY sent HAVING COUNT(*) >= 2),
        |occ AS (SELECT sent, COUNT(*) AS n_occ FROM s GROUP BY sent)
        |SELECT df.sent, df.n_docs, occ.n_occ,
        |  CAST(len(df.sent) AS BIGINT) AS sent_len
        |FROM df JOIN occ USING (sent)
        |ORDER BY df.n_docs DESC, occ.n_occ DESC, df.sent""".stripMargin,

    "text_readability" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks,
         |    greatest(1, len(list_filter(list_transform(
         |      string_split_regex(text, '\\.\\s+'), p -> trim(p)),
         |      p -> p != ''))) AS n_sents
         |  FROM documents)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
         |  CAST(n_sents AS BIGINT) AS n_sents,
         |  CAST(list_sum(list_transform(toks, w ->
         |    greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+')))))
         |    AS BIGINT) AS n_syll,
         |  CAST(206835 - (1015 * len(toks)) // n_sents
         |    - (84600 * list_sum(list_transform(toks, w ->
         |        greatest(1, len(regexp_extract_all(lower(w),
         |          '[aeiouy]+'))))))
         |      // len(toks) AS BIGINT) AS flesch_x1000
         |FROM t ORDER BY doc_id""".stripMargin,

    "text_char_gini" ->
      """WITH ch AS (
        |  SELECT doc_id, u.ch, COUNT(*) AS cnt FROM (
        |    SELECT doc_id, list_transform(range(1, len(text) + 1),
        |      i -> substr(text, i, 1)) AS cs
        |    FROM documents), UNNEST(cs) u(ch)
        |  GROUP BY doc_id, u.ch)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
        |  COUNT(*) AS n_distinct,
        |  CAST(1000000 - SUM(cnt * cnt) * 1000000
        |    // (SUM(cnt) * SUM(cnt)) AS BIGINT) AS gini_ppm
        |FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_keywords" ->
      s"""WITH st AS (
         |  SELECT source, t, COUNT(*) AS c_st
         |  FROM (SELECT source, unnest($sqlToks) AS t FROM documents)
         |  GROUP BY source, t),
         |source_tot AS (
         |  SELECT source AS st_source, CAST(SUM(c_st) AS BIGINT)
         |    AS source_total FROM st GROUP BY source),
         |global AS (
         |  SELECT t AS g_t, CAST(SUM(c_st) AS BIGINT) AS c_t
         |  FROM st GROUP BY t),
         |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS corpus_total
         |  FROM global),
         |scored AS (
         |  SELECT source, t, c_st,
         |    c_st * 1000000 // source_total AS ppm_source,
         |    c_t * 1000000 // corpus_total AS ppm_corpus
         |  FROM st
         |  JOIN source_tot ON source = st_source
         |  JOIN global ON t = g_t
         |  CROSS JOIN tot
         |  WHERE c_st >= 5)
         |SELECT source, rank, t AS token, c_st, ppm_source, lift_x100
         |FROM (
         |  SELECT source, t, c_st, ppm_source,
         |    ppm_source * 100 // ppm_corpus AS lift_x100,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY ppm_source * 100 // ppm_corpus DESC, t)
         |      AS BIGINT) AS rank
         |  FROM scored WHERE ppm_corpus > 0)
         |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    "text_vocab_growth" ->
      s"""WITH nd AS (SELECT MAX(doc_id) + 1 AS n_docs FROM documents),
         |toks AS (
         |  SELECT doc_id, $sqlToks AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, tk[u.i] || ' ' || tk[u.i + 1] AS t
         |  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) u(i)
         |  WHERE len(tk) >= 2),
         |fb AS (
         |  SELECT t, MIN(least(9, doc_id * 10 // n_docs)) AS first_bucket
         |  FROM grams CROSS JOIN nd GROUP BY t),
         |curve AS (
         |  SELECT first_bucket, COUNT(*) AS n_new_tokens
         |  FROM fb GROUP BY first_bucket)
         |SELECT CAST(first_bucket + 1 AS BIGINT) AS decile,
         |  n_new_tokens,
         |  CAST(SUM(n_new_tokens) OVER (ORDER BY first_bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS vocab_size
         |FROM curve ORDER BY decile""".stripMargin
  )
}
