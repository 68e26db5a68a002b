package graft.threads

import graft.model.ClassifiedDoc
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** News-thread clustering + ranking (reference: T1-T5,
  * src/nlu/glossary.rs:374-443, 226-300).
  *
  * Deviation D4 (SURVEY.md §7.6): the reference's greedy, iteration-order-
  * dependent self-occurrence clustering is replaced by deterministic
  * key-based clustering on the normalized title — permutation- and
  * partition-count-invariant, which is what makes it shuffle-able.
  *
  * Scale design (north_rule: salted repartitioning for hot keys):
  * a viral title may hold millions of docs, so a thread carries
  * `size` = full count plus a bounded `articles` sample (K smallest
  * doc_ids — deterministic). The aggregation is TWO-PHASE: phase 1 groups
  * by (key, salt) so no single task sees a whole hot key; phase 2 merges
  * ≤ NSALT bounded partials per key. Both phases are map-side-combinable;
  * per-key reducer state is O(NSALT·K), never O(cluster size).
  */
object Threads {

  val ArticleSampleK = 10 // mirrors the reference's 10-doc thread cap (glossary.rs:404, Q6)
  val NSalt = 16

  /** The ONE salted two-phase size/sample aggregation every clustering
    * variant shares (exact-title, simhash-band, fuzzy-component, and the
    * table-native facade verb): phase 1 groups by (key, salt) so no task
    * sees a whole hot key; phase 2 merges ≤ NSalt bounded partials.
    * `extraMins` carries the variant's min() columns (category and/or
    * representative title). Rows need (doc_id, `keyCol`, extraMins...).
    */
  private[graft] def saltedSizeSample(df: DataFrame, keyCol: String, k: Int,
                                      extraMins: Seq[String]): DataFrame = {
    val p1 = Seq(
      count(lit(1)).as("c"),
      // min_k: k smallest doc_ids with O(k) aggregation state (identical
      // values to slice(sort_array(collect_list), 1, k) — doc_id unique).
      // The salt bounds which TASK sees a hot key; min_k bounds the agg
      // BUFFER itself, which the collect form grew to O(group/NSalt)
      graft.functions.MinK.min_k_str(col("doc_id"), k).as("sample")) ++
      extraMins.map(c => min(col(c)).as(c))
    val phase1 = df
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(NSalt)))
      .groupBy(col(keyCol), col("salt"))
      .agg(p1.head, p1.tail: _*)
    val p2 = Seq(
      sum(col("c")).as("size"),
      slice(sort_array(flatten(collect_list(col("sample")))), 1, k).as("articles")) ++
      extraMins.map(c => min(col(c)).as(c))
    phase1
      .groupBy(col(keyCol))
      .agg(p2.head, p2.tail: _*)
      .filter(col("size") >= 2)
  }

  /** classified docs → threads: (title_norm, size, articles, category).
    * Keeps clusters with ≥ 2 members (reference: glossary.rs:234-236).
    * Thread category is `min(category)` across members (deviation D7):
    * the reference's `ncategories` memo is last-writer-wins over BTreeMap
    * iteration order (glossary.rs:248-253) — nondeterministic and not
    * map-side combinable; min is both.
    */
  def threads(classified: Dataset[ClassifiedDoc], k: Int = ArticleSampleK): DataFrame =
    saltedSizeSample(classified.toDF(), "title_norm", k, Seq("category"))

  /** Near-duplicate-title clustering: key = top-`bandBits` of
    * simhash64(title tokens) — word-order-invariant (a token multiset
    * property) and tolerant of low-bit drift from minor token changes.
    * Same salted two-phase shape as [[threads]]; the exact title is kept
    * as the representative (min = deterministic).
    *
    * This is the "simhash groupBy" half of the north_rule's
    * normalized-title/simhash clustering (the exact-title key being the
    * other half); at 10^12 docs the band groupBy is the recall lever:
    * fewer band bits → coarser clusters, same shuffle shape.
    */
  /** (cluster_key, doc_id, title_norm, category) — the simhash-band-keyed
    * rows [[threadsNear]] groups; public so Verify can materialize them
    * for the external (DuckDB) re-derivation of the grouping tail.
    */
  def nearKeyed(classified: DataFrame, bandBits: Int = 48): DataFrame =
    // native codegen expression (graft.functions.SimHash64Title): the key
    // is computed inside the scan's WholeStageCodegen loop — no encoder
    // boundary, no ScalaUDF ser/de
    classified.select(
      shiftrightunsigned(
        graft.functions.GraftFunctions.simhash64_title(col("title_norm")),
        64 - bandBits).as("cluster_key"),
      col("doc_id"), col("title_norm"), col("category"))

  def threadsNear(classified: Dataset[ClassifiedDoc], bandBits: Int = 48,
                  k: Int = ArticleSampleK): DataFrame =
    saltedSizeSample(nearKeyed(classified.toDF(), bandBits), "cluster_key", k,
      Seq("title_norm", "category"))
      .drop("cluster_key")

  /** Fuzzy thread clustering — the token-Jaccard re-expression of the
    * reference's self-occurrence retrieval (SURVEY.md §7.4: tantivy
    * score ≥ 10 over title tokens ⇒ Jaccard cutoff; T1/D4):
    *
    *  1. distinct normalized titles (the names_db equivalent,
    *     src/parser.rs:220-230);
    *  2. minhash over title TOKENS, banded → candidate title pairs
    *     (balanced groupBys, no all-pairs);
    *  3. exact token-Jaccard ≥ `minJaccard` verification;
    *  4. connected components (large/small-star) over verified pairs —
    *     deterministic, permutation-invariant replacement for the greedy
    *     reverse_map clustering (src/nlu/glossary.rs:374-443);
    *  5. docs join their title's component; salted two-phase size/sample
    *     aggregation as in [[threads]].
    *
    * Scale: steps 2-4 run over DISTINCT TITLES (≪ docs); only step 5
    * touches the doc table, with the same hot-key-safe shape.
    */
  /** (tid, title_norm) distinct titles — the names_db equivalent; public
    * for Verify's oracle base dump. CACHED (lazily), not checkpointed:
    * it feeds several consumers during pair generation but is never
    * iterated, so lineage depth is bounded and an eager checkpoint would
    * just burn one extra job per fuzzy run. NOTE: cached relations stay
    * registered until unpersisted — [[threadsFuzzy]] releases it as soon
    * as pair generation completes; external callers (Verify) should
    * unpersist when done or let the process exit.
    */
  def fuzzyTitles(classified: DataFrame): DataFrame =
    classified.select(col("title_norm")).distinct()
      .withColumn("tid", xxhash64(col("title_norm")))
      .cache()

  /** Verified fuzzy-duplicate title pairs (a, b) over [[fuzzyTitles]]:
    * minhash anchor-star candidates with the exact token-Jaccard filter
    * FUSED into the candidate stage (VERDICT r6 item 4) — titles are
    * 3-10 tokens, so the sorted token-hash array (~80 bytes) rides the
    * banding instead of paying two id-keyed verify joins against a
    * shingle table (the join form shuffled the ~4M-candidate table twice
    * at 1M titles for a 4.7% verify precision). Anchor-star pairs stay
    * untruncated even for huge buckets of templated titles; CC restores
    * transitivity. Pair-set identity with the join form is pinned by
    * SketchAccuracySpec.
    * DELIBERATELY NOT size-ratio prefiltered (VERDICT r5 item 1,
    * measured and refuted for THIS path): titles are near-uniform in
    * size — a stage profile at 1.06M distinct titles measured the lossless
    * bound removing only 0.40% of 4.07M candidates (failing pairs are
    * same-size different-token pairs). The bound earns its keep on
    * heavy-tailed DOCUMENT lengths instead — see Dedup.nearDupPairs;
    * the document path also keeps the JOIN-form verify (unbounded
    * shingle arrays must not ride a ×bands explode).
    */
  def fuzzyVerifiedPairs(titles: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    import graft.ops.Sketches
    val asDocs = titles.select(col("tid").as("doc_id"), col("title_norm").as("text"))
    Sketches.minhashVerifiedPairsInline(asDocs, shingleN = 1, bands = 4,
        rowsPerBand = 2, minJaccard)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
  }

  /** Docs keyed by their fuzzy title component: the global pair
    * generation + connected components runs ONCE here (over DISTINCT
    * titles), then every doc joins its title's component id. Public split
    * from [[threadsFuzzy]] so a checkpointed sink can slice commit units
    * BY COMPONENT (fuzzy clusters cross title-hash slices, so slicing by
    * title silently wrote a different clustering — VERDICT r3 item 3);
    * [[threadsFromKeyed]] then aggregates any disjoint slice correctly.
    */
  def fuzzyKeyed(classified: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    import graft.ops.Dedup
    val titles = fuzzyTitles(classified)
    val verified = fuzzyVerifiedPairs(titles, minJaccard)
    val comps = Dedup.connectedComponentsAuto(verified) // (member tid, component)
    // pair generation (the cache's 3 consumers) is DONE once CC returns
    // (its gate/rounds are actions); release the cached titles now —
    // CacheManager never drops registered relations on its own, so a
    // long-lived session running many fuzzy jobs would otherwise
    // accumulate them. The final doc join below recomputes the distinct
    // once from the (typically persisted) classified input.
    titles.unpersist(false)
    val titleComp = titles
      .join(comps, titles("tid") === comps("member"), "left")
      .select(col("title_norm"),
        coalesce(col("component"), col("tid")).as("component"))
    classified.join(titleComp, "title_norm")
  }

  /** The size/sample aggregation tail over [[fuzzyKeyed]] rows (or any
    * component-disjoint slice of them).
    */
  def threadsFromKeyed(keyed: DataFrame, k: Int = ArticleSampleK): DataFrame =
    saltedSizeSample(keyed, "component", k, Seq("title_norm", "category"))
      .drop("component")

  def threadsFuzzy(classified: Dataset[ClassifiedDoc], minJaccard: Double = 0.5,
                   k: Int = ArticleSampleK): DataFrame =
    threadsFromKeyed(fuzzyKeyed(classified.toDF(), minJaccard), k)

  /** Threads ordered by size desc (reference: sort_by_thread_count,
    * glossary.rs:286-300), title asc as deterministic tie-break.
    */
  def ranked(threadsDf: DataFrame): DataFrame =
    threadsDf.orderBy(col("size").desc, col("title_norm"))

  /** `top`: per-category buckets + the "any" bucket (reference:
    * glossary.rs:85-105, 246-278), top `limit` threads per bucket.
    * Per-bucket ranking uses a window (TakeOrdered per group), not a
    * global sort.
    *
    * Both bucket keys of a thread come from ONE scan of `threadsDf`
    * (`explode(array(category, "any"))`). A self-union would plan the
    * input twice, and since the `any` branch prunes `min(category)` the
    * two aggregations differ, so AQE cannot reuse one exchange for the
    * other: the salted two-phase aggregation would run twice.
    */
  def top(threadsDf: DataFrame, limit: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withAny = threadsDf.withColumn("category", explode(array(
      when(col("category") === "", "other").otherwise(col("category")), lit("any"))))
    val w = Window.partitionBy(col("category"))
      .orderBy(col("size").desc, col("title_norm"))
    withAny
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= limit)
      .select("category", "rank", "title_norm", "size", "articles")
  }
}
