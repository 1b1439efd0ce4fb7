package graft

import org.apache.spark.sql.SparkSession

/** Session-level optimizer tuning shared by every entry point: every
  * session in this project (Main, Verify, Bench, Profile, the probes,
  * the test session) is built by [[builder]] or [[localSession]].
  */
object Tuning {
  /** `InferFiltersFromGenerate` synthesizes a `size(arr) > 0`
    * predicate from every explode, and predicate pushdown then inlines
    * the array-building expression into that filter below each
    * projection. For this engine's nested-array pipelines the inlining
    * is quadratic: a lambda that indexes or slices ANOTHER computed
    * array column (winnowing's `slice(hs, j, 8)`, the n-gram builders'
    * `toks[i+k]`) re-evaluates the inner array expression once PER
    * ELEMENT when both live in one inlined predicate — the winnowing
    * index went from ~290 md5s per document to ~84k interpreted ones,
    * and the inferred filter was the only consumer stitched that way
    * (projections keep their barrier: CollapseProject declines to
    * duplicate non-cheap multi-referenced expressions; the filter
    * rules have no such cost guard).
    *
    * Generate already skips null/empty inputs by itself, so the
    * inferred filter is a row-skipping micro-optimization at best and
    * a quadratic re-evaluation at worst: excluded. The empirical
    * proof lives in TextAnalysisSpec/`text_winnow_pairs` history
    * (round-4 bench died inside the inferred predicate).
    */
  val excludedRules =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** A session builder with the confs every session shares:
    * [[excludedRules]], UTC session time, and room for 2000 generated
    * classes (a static conf, so it must precede session creation: the
    * default 100-entry cache evicts most of the several hundred
    * codegen stages the query surface compiles, throwing away a warm
    * pass's compilation before the timed run). */
  def builder(): SparkSession.Builder = SparkSession.builder()
    .config("spark.sql.optimizer.excludedRules", excludedRules)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.cache.maxEntries", "2000")

  /** A `local[cores]` session with as many shuffle partitions as cores
    * and no UI. */
  def localSession(cores: Int): SparkSession = {
    val spark = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
