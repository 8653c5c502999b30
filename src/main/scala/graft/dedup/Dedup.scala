package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale shape (the point of each design):
  *  - exact: one hash-groupBy shuffle on a 32-byte key, map-side combined.
  *  - MinHash: signatures are ONE shingle-explode + groupBy per doc
  *    (linear); candidate generation is an equi-join on (band, value)
  *    buckets — never the quadratic all-pairs join.
  *  - SimHash: linear explode+groupBy; near-dup candidates share a
  *    64-bucket prefix.
  *  - Jaccard verification runs only on LSH candidates.
  *  - Embedding near-dup: sign-bucket LSH bounds the pair space.
  *
  * Hashing is md5-hex (not Spark's murmur `hash`) so signatures are
  * engine-portable — the DuckDB oracle computes identical values.
  */
object Dedup {

  /** Exact dedup groups: md5(text) → canonical (min) doc_id + dup
    * count. O(n) shuffle on the digest. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Character `k`-gram shingles of the normalized text. Documents
    * shorter than `k` produce no shingles (guard keeps Spark's
    * `sequence` from descending when length-k+1 < 1).
    *
    * `distinct=true` (set semantics) is required for Jaccard; MinHash
    * signatures are duplicate-insensitive (min), so signature callers
    * pass `distinct=false` and skip a full shuffle of the exploded
    * shingle stream — the groupBy that follows map-side combines to
    * one row per (doc, component) anyway. */
  def shingles(docs: DataFrame, k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      distinct: Boolean = true): DataFrame = {
    // the explode fans each doc out ~|text| times and every shingle is
    // hashed downstream — spread docs across the cluster BEFORE the
    // fan-out (a compact source often arrives as one split; shuffling
    // the small pre-explode rows is the cheap side of the trade)
    val exploded = docs
      .repartition(col(idCol))
      .select(col(idCol), TextAnalysis.normalized(col(textCol)).as("__norm"))
      .filter(length(col("__norm")) >= k)
      .select(col(idCol),
        explode(sequence(lit(1), length(col("__norm")) - (k - 1))).as("__i"),
        col("__norm"))
      .select(col(idCol), expr(s"substring(__norm, __i, $k)").as("shingle"))
    if (distinct) exploded.distinct() else exploded
  }

  /** MinHash signature: `numHashes` (multiple of 4) permutations
    * simulated by an md5 DIGEST CHAIN — d1 = md5(shingle),
    * d(g) = md5(d(g-1)) — so the shingle itself is hashed exactly once
    * and each further digest hashes a fixed 32-hex string. Each digest
    * yields FOUR 8-hex (32-bit) signature components. The components
    * are computed in a projection BEFORE the aggregation (not inside
    * the min() aggregates) so codegen subexpression elimination
    * provably dedups the md5 across the four substrings sharing a
    * digest; one groupBy, map-side combined. */
  def minHashSignatures(shingled: DataFrame, numHashes: Int = 8,
      idCol: String = "doc_id"): DataFrame = {
    require(numHashes % 4 == 0, "numHashes must be a multiple of 4")
    val groups = numHashes / 4
    val digests: Seq[Column] =
      Seq.iterate(md5(col("shingle")), groups)(prev => md5(prev))
    val comps = for {
      g <- 0 until groups
      j <- 0 until 4
    } yield substring(digests(g), 8 * j + 1, 8).as(s"c${g * 4 + j + 1}")
    val projected = shingled.select((col(idCol) +: comps): _*)
    val aggs = (1 to numHashes).map(i => min(col(s"c$i")).as(s"h$i"))
    projected.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: `numHashes` signature components grouped into bands
    * of `rowsPerBand`; docs sharing any band digest are candidates.
    * The candidate join is per-(band, digest) — the 100 TB-safe path:
    * bucket sizes bound the join fan-out, no all-pairs comparison. */
  /** Exploded per-band digests of a signature frame: one row per
    * (id, band, digest) — the LSH bucket keys. Shared by the
    * within-corpus pair join and the cross-corpus contamination
    * probe. */
  def bandDigests(signatures: DataFrame, numHashes: Int = 8,
      rowsPerBand: Int = 2, idCol: String = "doc_id"): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val cols = (1 to rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("digest"))
    }
    signatures
      .select(col(idCol), explode(array(bands: _*)).as("bd"))
      .select(col(idCol), col("bd.band").as("band"), col("bd.digest").as("digest"))
  }

  def minHashCandidatePairs(signatures: DataFrame, numHashes: Int = 8,
      rowsPerBand: Int = 2, idCol: String = "doc_id"): DataFrame = {
    val exploded = bandDigests(signatures, numHashes, rowsPerBand, idCol)
    val a = exploded.toDF(s"a_$idCol", "band", "digest")
    val b = exploded.toDF(s"b_$idCol", "band", "digest")
    a.join(b, Seq("band", "digest"))
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .select(s"a_$idCol", s"b_$idCol").distinct()
  }

  /** Cross-source near-dup overlap matrix: for each UNORDERED source
    * pair, how many LSH candidate near-dup pairs land between them —
    * the inter-source duplication profile a mixture planner reads
    * before weighting sources (two crawls of the same sites should not
    * both get full weight). Input is the already-deduped candidate
    * pair list; cost is two doc_id equi-joins against the (id, source)
    * projection plus one tiny aggregate — the pair list, not the
    * corpus, dominates. Diagonal rows (a source against itself) are
    * included: within-source duplication.
    */
  def sourceOverlapMatrix(pairs: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", srcCol: String = "source"): DataFrame = {
    val dims = docs.select(col(idCol), col(srcCol))
    val withSrc = pairs
      .join(dims.toDF(s"a_$idCol", "__a_src"), s"a_$idCol")
      .join(dims.toDF(s"b_$idCol", "__b_src"), s"b_$idCol")
    withSrc
      .select(least(col("__a_src"), col("__b_src")).as("source_a"),
        greatest(col("__a_src"), col("__b_src")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Estimated Jaccard from signature agreement for candidate pairs. */
  def minHashEstimate(pairs: DataFrame, signatures: DataFrame,
      numHashes: Int = 8, idCol: String = "doc_id"): DataFrame = {
    val sa = signatures.toDF(signatures.columns.toIndexedSeq.map(c =>
      if (c == idCol) s"a_$idCol" else s"a_$c"): _*)
    val sb = signatures.toDF(signatures.columns.toIndexedSeq.map(c =>
      if (c == idCol) s"b_$idCol" else s"b_$c"): _*)
    val matches = (1 to numHashes)
      .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, s"a_$idCol").join(sb, s"b_$idCol")
      .select(col(s"a_$idCol"), col(s"b_$idCol"),
        round(matches.cast("double") / numHashes, 4).as("est_jaccard"))
  }

  /** Per-candidate-doc shingle SETS — the shared input of both verify
    * stages. The semi-join prunes the corpus shingle table to docs that
    * appear in some pair (LSH guarantees candidates ≪ corpus; AQE
    * broadcasts the id side when runtime-small), so verification never
    * shuffles corpus-sized data — without the prune, the intersection
    * join re-shuffles EVERY shingle because the post-join size estimate
    * defeats auto-broadcast. One aggregation builds (id, shingle-set,
    * size); both join arms of the verify then carry an IDENTICAL
    * subtree, which physical planning computes once (ReuseExchange).
    * Set size is bounded by document length — the same bound the
    * exploded shingle table already had per doc.
    *
    * PUBLIC so callers can materialize it ONCE for the whole verify
    * family — [[jaccardVerify]], [[containmentVerify]] and
    * [[minHashCalibration]] all accept the prebuilt frame via their
    * `sets` parameter. Without that, each verify query re-aggregates
    * the candidate shingle sets per execution; with it, a suite or
    * serving deployment pays the corpus-touching semi-join+groupBy
    * exactly once however many verify reads run (and in whatever
    * order — the first caller builds, the rest reuse). */
  def candidateShingleSets(pairs: DataFrame, shingled: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val shCol = shingled.columns.filterNot(_ == idCol).head
    val ids = pairs.select(col(s"a_$idCol").as(idCol))
      .union(pairs.select(col(s"b_$idCol").as(idCol)))
      .distinct()
    shingled.join(ids, Seq(idCol), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(col(shCol)).as("shset"))
      .select(col(idCol), col("shset"),
        size(col("shset")).cast("long").as("sz"))
  }

  /** Exact n-gram Jaccard for candidate pairs via shingle-set
    * intersection — the verification stage after LSH. |A∩B| by
    * array_intersect over the candidate-pruned per-doc sets;
    * |A∪B| = |A|+|B|−|A∩B|. */
  def jaccardVerify(pairs: DataFrame, shingled: DataFrame,
      idCol: String = "doc_id",
      prebuiltSets: Option[DataFrame] = None): DataFrame = {
    val sets = prebuiltSets.getOrElse(
      candidateShingleSets(pairs, shingled, idCol))
    val inter = size(array_intersect(col("a_set"), col("b_set"))).cast("long")
    pairs
      .join(sets.select(col(idCol).as(s"a_$idCol"),
        col("shset").as("a_set"), col("sz").as("a_sz")), s"a_$idCol")
      .join(sets.select(col(idCol).as(s"b_$idCol"),
        col("shset").as("b_set"), col("sz").as("b_sz")), s"b_$idCol")
      .select(col(s"a_$idCol"), col(s"b_$idCol"),
        round(inter.cast("double") /
          (col("a_sz") + col("b_sz") - inter), 4).as("jaccard"))
  }

  /** ASYMMETRIC containment for candidate pairs: |A∩B|/|A| and
    * |A∩B|/|B| in exact ppm ints (inter·1e6 DIV |side|). Jaccard
    * misses inclusion — a tweet quoted inside a long article has tiny
    * Jaccard but containment(A)≈1 — and dedup policies treat "B
    * engulfs A" differently from "A≈B" (drop the contained copy, keep
    * the superset). Same join shape as [[jaccardVerify]]: candidates
    * only, one shingle equi-join.
    */
  def containmentVerify(pairs: DataFrame, shingled: DataFrame,
      idCol: String = "doc_id",
      prebuiltSets: Option[DataFrame] = None): DataFrame = {
    val sets = prebuiltSets.getOrElse(
      candidateShingleSets(pairs, shingled, idCol))
    pairs
      .join(sets.select(col(idCol).as(s"a_$idCol"),
        col("shset").as("a_set"), col("sz").as("a_sz")), s"a_$idCol")
      .join(sets.select(col(idCol).as(s"b_$idCol"),
        col("shset").as("b_set"), col("sz").as("b_sz")), s"b_$idCol")
      .withColumn("inter",
        size(array_intersect(col("a_set"), col("b_set"))).cast("long"))
      .select(col(s"a_$idCol"), col(s"b_$idCol"),
        col("a_sz"), col("b_sz"), col("inter"),
        expr("inter * 1000000 DIV a_sz").as("cont_a_ppm"),
        expr("inter * 1000000 DIV b_sz").as("cont_b_ppm"))
  }

  /** MinHash calibration curve: estimated vs EXACT Jaccard per
    * signature-agreement level. For each LSH candidate pair, the
    * estimator is `matching components / numHashes` (ppm); the truth
    * is the shingle-set Jaccard. Grouped by match count, the curve
    * (n_pairs, mean/min/max exact ppm per level) is the read that
    * decides whether a signature width is trustworthy BEFORE a
    * corpus-wide dedup commits to it — e8's recall audit, but for the
    * MinHash estimator itself.
    *
    * Scale shape: candidates-only joins throughout (signatures are
    * id-keyed equi-joins; shingle sets ride the d5 candidate-pruned
    * aggregation), then a ≤ numHashes+1-row rollup. All-integer ppm. */
  def minHashCalibration(pairs: DataFrame, signatures: DataFrame,
      shingled: DataFrame, numHashes: Int = 8,
      idCol: String = "doc_id",
      prebuiltSets: Option[DataFrame] = None): DataFrame = {
    val hCols = (1 to numHashes).map(i => s"h$i")
    def sigSide(side: String) = signatures.select(
      col(idCol).as(s"${side}_$idCol") +:
        hCols.map(h => col(h).as(s"${side}_$h")): _*)
    val matches = hCols.map(h =>
      when(col(s"a_$h") === col(s"b_$h"), 1L).otherwise(0L)).reduce(_ + _)
    val sets = prebuiltSets.getOrElse(
      candidateShingleSets(pairs, shingled, idCol))
    val inter = size(array_intersect(col("a_set"), col("b_set"))).cast("long")
    pairs
      .join(sets.select(col(idCol).as(s"a_$idCol"),
        col("shset").as("a_set"), col("sz").as("a_sz")), s"a_$idCol")
      .join(sets.select(col(idCol).as(s"b_$idCol"),
        col("shset").as("b_set"), col("sz").as("b_sz")), s"b_$idCol")
      .withColumn("inter", inter)
      .withColumn("exact_ppm",
        expr("inter * 1000000 DIV (a_sz + b_sz - inter)"))
      .join(sigSide("a"), s"a_$idCol")
      .join(sigSide("b"), s"b_$idCol")
      .withColumn("matches", matches)
      .groupBy("matches")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("exact_ppm")).as("__sum"),
        min(col("exact_ppm")).as("min_exact_ppm"),
        max(col("exact_ppm")).as("max_exact_ppm"))
      .select(col("matches"),
        expr(s"matches * 1000000 div $numHashes").as("est_ppm"),
        col("n_pairs"),
        expr("__sum div n_pairs").as("mean_exact_ppm"),
        col("min_exact_ppm"), col("max_exact_ppm"))
  }

  /** SimHash over word tokens, `bits` wide (≤32). Token hash = first 8
    * md5 hex digits; simhash bit j = sign of Σ_tokens (bit_j ? +1 : −1).
    * Returns the simhash as a bit string column for portability. */
  def simHash(docs: DataFrame, bits: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(bits <= 32)
    val tok = docs
      .repartition(col(idCol))     // pre-explode spread, same as shingles
      .select(col(idCol),
        explode(TextAnalysis.normalizedTokens(col(textCol))).as("tok"))
      .withColumn("th", substring(md5(col("tok")), 1, 8))
    // hex digit value at position p (1-based): strpos of the char
    def hexVal(p: Int): Column =
      (instr(lit("0123456789abcdef"), substring(col("th"), p, 1)) - 1).cast("int")
    val bitSums = (0 until bits).map { j =>
      val p = j / 4 + 1          // which hex digit
      val b = 3 - (j % 4)        // bit within digit, MSB first
      sum(when(shiftright(hexVal(p), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"s$j")
    }
    val sums = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val bitsStr = concat((0 until bits).map(j =>
      when(col(s"s$j") > 0, lit("1")).otherwise(lit("0"))): _*)
    sums.select(col(idCol), bitsStr.as("simhash"))
  }

  /** Connected components over candidate-pair edges: each doc gets the
    * minimum doc id reachable through pair links (transitive dup
    * groups — A~B and B~C put all three in one group even if A and C
    * never collided in LSH).
    *
    * Pregel-style min-label propagation with pointer jumping as a
    * DataFrame loop, tuned so each round is ONE planned job:
    *  - the symmetrized edge list is hash-partitioned by `src` once and
    *    cached, so the per-round join reuses its partitioning instead
    *    of re-shuffling the (large) edge list every iteration — the
    *    same co-partitioning GraphX's Pregel maintains;
    *  - the previous label rides through the propagation union as an
    *    `old` column, so convergence is a flag computed in the same job
    *    (no separate probe join);
    *  - each round ends in one eager localCheckpoint (truncates the
    *    otherwise per-round-doubling lineage) and the convergence probe
    *    reads those materialized blocks in milliseconds;
    *  - edges CONTRACT each round: endpoints are remapped through the
    *    new labels and intra-group edges dropped, so merged groups act
    *    as super-vertices and the min spreads a whole group per hop —
    *    geometric convergence instead of one cluster-hop per round,
    *    with a shrinking edge list.
    * `maxIter` caps pathological graphs. No driver-side union-find —
    * this shape runs at any edge-list size.
    * (Benchmarked alternatives at sf0.1, 8.3k pairs, 3.1k vertices:
    * GraphX connectedComponents 16.8 s — O(diameter) rounds, no
    * jumping/contraction; DF loop without contraction 13.6 s over 14
    * rounds; this form 7.4 s over 6 rounds.)
    */
  def dupGroups(pairs: DataFrame,
      aCol: String = "a_doc_id", bCol: String = "b_doc_id",
      maxIter: Int = 40): DataFrame = {
    // undirected edge list, partitioned by the per-round join key.
    // repartition(src) FIRST, then distinct: HashPartitioning(src)
    // already satisfies the distinct aggregate's clustered-by-(src,
    // dst) requirement (all rows of a pair share src), so the dedup
    // runs on the join-key exchange instead of adding its own —
    // one exchange here and per contraction round below, not two,
    // and the raw stream crosses the network exactly once.
      val edges0 = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .repartition(col("src"))
        .distinct()
        .cache()
      var edges = edges0
      var prevEdges = edges0
      var checkpointed = edges.select(col("src").as("v"))
        .distinct()
        .withColumn("label", col("v"))
        .localCheckpoint(true)
      var labels = checkpointed
      val labelType = labels.schema("label").dataType
      var converged = false
      var i = 0
      val debug = sys.env.contains("GRAFT_CC_DEBUG")
      while (!converged && i < maxIter) {
        val t0 = System.nanoTime()
        // propagate neighbor labels; every vertex also contributes its
        // own row carrying the prior label as `old` (exactly one
        // non-null `old` per vertex, so min() recovers it)
        val propagated = edges
          .join(labels, edges("src") === labels("v"))
          .select(col("dst").as("v"), col("label"),
            lit(null).cast(labelType).as("old"))
          .unionByName(labels.select(col("v"), col("label"),
            col("label").as("old")))
          .groupBy("v").agg(min("label").as("label"), min("old").as("old"))
        // pointer jump (path compression): label := label of my label —
        // halves label-chain depth per round
        val l2 = propagated.select(col("v").as("lv"), col("label").as("llabel"))
        val withFlag = propagated.join(l2, propagated("label") === l2("lv"))
          .select(propagated("v"),
            least(propagated("label"), col("llabel")).as("label"),
            (least(propagated("label"), col("llabel")) =!= col("old")).as("chg"))
          .localCheckpoint(true)
        val tCkpt = System.nanoTime()
        // Probe cadence: rounds 0-2 always (tiny graphs converge right
        // away), then odd rounds only — a graph still changing at
        // round 3 needs the even rounds regardless, so skipping their
        // probes saves ~2 scheduler actions per run without adding
        // rounds (sf0.1 converges at round 5, an odd round; a missed
        // even-round convergence costs one cheap extra round on an
        // already-contracted near-empty edge list). The last permitted
        // round always probes so maxIter exits can't spuriously fail
        // the convergence require.
        val probe = i <= 2 || i % 2 == 1 || i == maxIter - 1
        converged = probe && withFlag.filter(col("chg")).isEmpty
        if (debug) System.err.println(
          f"[dupGroups] round $i: ckpt ${(tCkpt - t0) / 1e9}%.2fs probe ${(System.nanoTime() - tCkpt) / 1e9}%.2fs")
        // drop prior round's checkpoint blocks NOW — `.rdd.unpersist`
        // was a no-op here (Dataset.rdd is a derived RDD, see
        // graft.util.Blocks), leaving every round's blocks pinned
        // until a GC let the ContextCleaner find them
        graft.util.Blocks.releaseCheckpoint(checkpointed)
        checkpointed = withFlag
        labels = withFlag.select("v", "label")
        if (!converged) {
          // contract: remap edge endpoints through the new labels and
          // drop intra-group edges. Newly-merged groups become single
          // super-vertices, so the next round's propagation hops span
          // whole groups — spread is geometric in rounds instead of one
          // cluster-hop per round. The edge list SHRINKS every round.
          // Lazy localCheckpoint: materializes inside the next round's
          // job (never computed at all on the final round) and keeps
          // the edge lineage flat.
          val m1 = labels.select(col("v").as("src"), col("label").as("__ls"))
          val m2 = labels.select(col("v").as("dst"), col("label").as("__ld"))
          val contracted = edges.join(m1, "src").join(m2, "dst")
            .select(col("__ls").as("src"), col("__ld").as("dst"))
            .filter(col("src") =!= col("dst"))
            .repartition(col("src"))
            .distinct() // rides the repartition exchange (see edges0)
            .localCheckpoint(false)
          if (!(prevEdges eq edges0))
            graft.util.Blocks.releaseCheckpoint(prevEdges)
          prevEdges = edges
          edges = contracted
        }
        i += 1
      }
      // Release the loop's working blocks. The returned frame reads
      // ONLY the final labels checkpoint (`checkpointed`), which must
      // stay persisted; the final edge lists are dead weight in a
      // long-lived session.
      edges0.unpersist()
      if (!(edges eq edges0)) graft.util.Blocks.releaseCheckpoint(edges)
      if (!(prevEdges eq edges0) && !(prevEdges eq edges))
        graft.util.Blocks.releaseCheckpoint(prevEdges)
      require(converged,
        s"dupGroups did not converge in $maxIter rounds — raise maxIter")
      labels.select(col("v").as("doc_id"), col("label").as("group_rep"))
  }

  /** Apply dedup: keep every document that is its group's
    * representative (or belongs to no dup group). Anti-join against
    * the non-representative ids; join strategy is left to Catalyst/AQE
    * — the dup set is often broadcastable but can approach corpus size
    * on dup-heavy corpora, so forcing a broadcast would be a driver
    * OOM trap. `groups` is [[dupGroups]] output (doc_id, group_rep);
    * `idCol` names the id column in `docs`. */
  def keepCanonical(docs: DataFrame, groups: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      groups.filter(col("doc_id") =!= col("group_rep"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  // ---- word-level duplicate-span dedup (exact substring dedup) ----

  /** Corpus novelty profile over a DISTINCT (id, shingle) stream: per
    * document, how many of its shingles appear nowhere earlier in the
    * corpus (first occurrence = min id over all holders). High
    * novelty_ppm marks genuinely new content; near-zero marks a doc
    * assembled entirely from already-seen text — the ordering signal
    * memorization/forgetting curricula read, and the complement of
    * the dup-span boilerplate fraction (d12 measures how much of a doc
    * is DUPLICATED; this measures how much is FIRST).
    *
    * Scale shape: one map-side-combined min() per shingle, a join back
    * on the same shingle key (the exchange is shared — the groupBy and
    * join partition identically), and a per-doc rollup. Linear in
    * total shingle volume; nothing is ever pairwise. */
  def noveltyProfile(shingled: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    // Shape adjudicated in round 18 and KEPT: two alternatives were
    // tried and refuted. (a) A shared repartition(shingle) feeding
    // both the firsts aggregate and the join probe — AQE's stage
    // cache does not dedup the two REPARTITION_BY_COL stages over the
    // memoized scan (both were seen materializing, OPTIMIZATION_r18.md),
    // so the "one reused exchange" form silently shuffles RAW bytes twice,
    // strictly worse than this map-side-combined aggregate arm.
    // (b) min(idCol) over (partition by shingle) — one exchange and
    // no join, 3.6 → 2.4 s at sf0.1, but a WindowExec partition pins
    // every occurrence of a hot boilerplate shingle onto ONE task:
    // the RefinedWeb-style straggler [[removeDupSpans]]'s scaladoc
    // documents removing. This groupBy+equi-join form is the
    // skew-safe one: the min() partial-aggregates hot shingles
    // map-side and the join back is AQE-skew-splittable.
    val firsts = shingled.groupBy("shingle")
      .agg(min(col(idCol)).as("__first"))
    shingled.join(firsts, "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col(idCol), col("n_shingles"), col("n_novel"),
        expr("n_novel * 1000000 div n_shingles").as("novelty_ppm"))
  }

  /** Word `n`-gram spans with 1-based start positions over the
    * normalized token stream: one row per (id, pos, ngram). Documents
    * shorter than `n` words emit no spans (the `when` guard keeps
    * `sequence` from descending). Same pre-explode spread as
    * [[shingles]]. */
  def wordSpans(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = TextAnalysis.normalizedTokens(col(textCol))
    docs
      .repartition(col(idCol))
      .select(col(idCol), toks.as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(when(size(col("__toks")) >= n,
          sequence(lit(1), size(col("__toks")) - (n - 1)))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(col("__toks"), col("pos"), lit(n))).as("ngram"))
  }

  /** Duplicate-span measurement (the exact-substring-dedup audit of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better", at word granularity): per document, the span
    * count, how many of its `n`-gram spans occur ≥2 times CORPUS-wide,
    * how many token positions those spans cover, and the covered
    * fraction (`floor(1e4·frac)`). The per-corpus histogram of
    * `dup_token_frac_scaled` is the standard "how much of my corpus is
    * boilerplate" curve.
    *
    * Scale shape: one groupBy on the ngram (map-side combined), one
    * equi-join of the span stream against the duplicated-ngram set,
    * then doc-keyed aggregates — linear, never doc×doc. */
  def dupSpanStats(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sp = wordSpans(docs, n, idCol, textCol)
    val occ = sp.groupBy("ngram").agg(count(lit(1)).as("n_occ"))
    val dup = sp.join(occ.filter(col("n_occ") >= 2), Seq("ngram"))
    val spanAgg = sp.groupBy(col(idCol)).agg(count(lit(1)).as("n_spans"))
    val dupAgg = dup.groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_spans"))
    val cov = dup
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tok_pos"))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("dup_token_count"))
    val toks = TextAnalysis.normalizedTokens(col(textCol))
    docs.select(col(idCol), size(toks).cast("long").as("n_tokens"))
      .join(spanAgg, Seq(idCol), "left")
      .join(dupAgg, Seq(idCol), "left")
      .join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_token_count"), lit(0L)).as("dup_token_count"),
        when(col("n_tokens") === 0, lit(null).cast("long"))
          .otherwise(floor(lit(10000.0) *
            coalesce(col("dup_token_count"), lit(0L)).cast("double") /
            col("n_tokens")).cast("long"))
          .as("dup_token_frac_scaled"))
  }

  /** Apply exact substring dedup: drop every token position covered by
    * a NON-FIRST occurrence of a corpus-duplicated `n`-gram span (first
    * occurrence = global (id, pos) order), and rebuild the cleaned
    * text. Overlap rule: removal wins — a position covered by both a
    * first and a later occurrence is dropped; deterministic and
    * oracle-expressible.
    *
    * Scale shape: NO per-ngram window. "Non-first occurrence" is
    * computed as `span ≠ min(struct(id, pos))` with the min folded
    * into the SAME groupBy that counts occurrences — partial (map-side)
    * aggregation collapses even a boilerplate ngram with millions of
    * corpus-wide occurrences to one row per map task before the
    * exchange, and the spans-to-firsts equi-join that follows is
    * AQE-skew-splittable (a hot ngram's span rows fan across split
    * partitions, each joining the same single `occ` row). A
    * `row_number` window here (the naive form, and what the DuckDB
    * oracle deliberately still uses as the adversarial counterpart)
    * would pin every occurrence of a hot "stop n-gram" onto ONE task —
    * the RefinedWeb-style straggler this formulation removes without
    * needing an occurrence-count threshold: drop-all-but-global-first
    * IS exact for every ngram, hot or cold. */
  def removeDupSpans(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sp = wordSpans(docs, n, idCol, textCol)
    val occ = sp.groupBy("ngram").agg(count(lit(1)).as("n_occ"),
      min(struct(col(idCol), col("pos"))).as("__first"))
    val dropPos = sp.join(occ.filter(col("n_occ") >= 2), Seq("ngram"))
      .filter(!(col(idCol) === col("__first").getField(idCol) &&
        col("pos") === col("__first").getField("pos")))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tok_pos"))
      .distinct()
    val toks = TextAnalysis.normalizedTokens(col(textCol))
    val stream = docs.repartition(col(idCol))
      .select(col(idCol), posexplode(toks).as(Seq("__p0", "tok")))
      .select(col(idCol), (col("__p0") + 1).as("tok_pos"), col("tok"))
    val rebuilt = stream.join(dropPos, Seq(idCol, "tok_pos"), "left_anti")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tok_pos"), col("tok")))),
          s => s.getField("tok"))).as("cleaned_text"))
    docs.select(col(idCol), size(toks).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** Embedding-cosine near-duplicates. Candidate pairs share a
    * sign-LSH bucket (signs of `signDims` components — axis-aligned
    * hyperplanes); cosine computed with a sequential fold for
    * engine-exact reproducibility.
    *
    * SCALE: expected candidate-pair count is ~n²/2^bits, so the
    * default 4 bits (16 buckets) is only safe for bounded corpora —
    * at corpus scale size the bit count with [[adaptiveSignDims]]
    * (n/2^bits ≈ constant rows per bucket ⇒ linear total work), or
    * use [[embeddingNearDupsBanded]] to buy back the recall that
    * wider buckets cost. */
  def embeddingNearDups(
      emb: DataFrame, threshold: Double, signDims: Seq[Int] = Seq(1, 17, 33, 49),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucket = graft.similarity.Ann.signBucket(vecCol, signDims)
    val withB = emb.select(col(idCol), col(vecCol), bucket.as("bucket"))
    val a = withB.toDF(s"a_$idCol", "a_vec", "bucket")
    val b = withB.toDF(s"b_$idCol", "b_vec", "bucket")
    a.join(b, "bucket")
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .select(col(s"a_$idCol"), col(s"b_$idCol"),
        Vectors.cosine(col("a_vec"), col("b_vec")).as("cos"))
      .filter(col("cos") > threshold)
      .select(col(s"a_$idCol"), col(s"b_$idCol"),
        round(col("cos"), 6).as("cosine"))
  }

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): pairwise cosine is computed only WITHIN each
    * k-means cluster, and a vector is dropped when an earlier-id
    * vector in its cluster sits above the similarity threshold —
    * chains collapse toward the earliest id (deterministic, single
    * pass, no transitive closure needed). Output: one row per
    * assignment with its in-cluster near-dup partner count and the
    * keep/drop verdict.
    *
    * Scale shape: the per-cluster self-join is quadratic in CLUSTER
    * size — that bound is the whole point of clustering first (the
    * paper's k grows with n so n/k stays constant; [[graft.similarity
    * .Clustering.kmeans]] is the trainer). Cosines run on the fused
    * codegen kernel; the verdict is one distinct + two left joins. */
  def semDedup(emb: DataFrame, assignments: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      clusterCol: String = "cluster"): DataFrame = {
    val withVec = assignments.select(col(idCol), col(clusterCol))
      .join(emb.select(col(idCol), col(vecCol)), idCol)
    val a = withVec.toDF("a_id", clusterCol, "a_vec")
    val b = withVec.toDF("b_id", clusterCol, "b_vec")
    val close = a.join(b, clusterCol).filter(col("a_id") < col("b_id"))
      .filter(Vectors.cosine(col("a_vec"), col("b_vec")) > threshold)
      .select(col("a_id"), col("b_id"))
    val partners = close.select(col("a_id").as(idCol))
      .unionAll(close.select(col("b_id").as(idCol)))
      .groupBy(idCol).agg(count(lit(1)).as("n_close"))
    val dropped = close.select(col("b_id").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))
    assignments.select(col(idCol), col(clusterCol))
      .join(partners, Seq(idCol), "left")
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), col(clusterCol),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        coalesce(when(col("__dropped"), lit(false)), lit(true)).as("kept"))
  }

  /** Sign-bit dimensions sized for the corpus: enough hyperplanes that
    * the expected bucket holds ~`targetBucketRows` vectors
    * (bits = ⌈log₂(n / target)⌉), spread evenly across the embedding
    * so no two bits read correlated adjacent components. Keeps the
    * per-bucket self-join linear in n: n/2^bits ≈ target ⇒ total
    * candidate pairs ≈ n·target/2. */
  def adaptiveSignDims(
      corpusRows: Long, embDim: Int, targetBucketRows: Long = 1024L,
      maxBits: Int = Int.MaxValue): Seq[Int] = {
    require(corpusRows >= 0 && embDim >= 1 && targetBucketRows >= 1 && maxBits >= 1)
    // smallest b ≥ 1 with corpusRows ≤ target·2^b — the integer form of
    // ⌈log₂(n/target)⌉ (identical for every n, and expressible as an
    // exact CASE ladder in an oracle, no float log at either engine)
    val cap = math.min(embDim, maxBits)
    val needed = (1 until cap)
      .find(b => (targetBucketRows << b) >= corpusRows)
      .getOrElse(cap)
    stridedDims(needed, embDim)
  }

  /** `bits` 1-based component indexes evenly strided across `embDim`
    * (distinct by construction whenever stride ≥ 1) — the single
    * source of the dims-for-b layout both the Spark plans and the
    * generated oracle arms use. */
  def stridedDims(bits: Int, embDim: Int): Seq[Int] = {
    val stride = embDim.toDouble / bits
    (0 until bits).map(i => 1 + math.round(i * stride).toInt).distinct
  }

  /** [[embeddingNearDups]] with the bit count derived from the actual
    * corpus size (one count job) — the safe default at unknown scale. */
  def embeddingNearDupsAuto(
      emb: DataFrame, threshold: Double, embDim: Int,
      targetBucketRows: Long = 1024L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBits: Int = Int.MaxValue): DataFrame =
    embeddingNearDups(emb, threshold,
      adaptiveSignDims(emb.count(), embDim, targetBucketRows, maxBits),
      idCol, vecCol)

  /** Corpus-sized banded near-dup: `numBands` disjoint bands, each of
    * [[adaptiveSignDims]]' width for the actual corpus size, offset so
    * no two bands share a component. One count job; then
    * [[embeddingNearDupsBanded]]. The default at unknown scale: linear
    * work per band, recall multiplied across bands. */
  def embeddingNearDupsBandedAuto(
      emb: DataFrame, threshold: Double, embDim: Int, numBands: Int = 2,
      targetBucketRows: Long = 1024L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(numBands >= 1)
    val base = adaptiveSignDims(emb.count(), embDim, targetBucketRows)
    // shift each band by a fraction of the base stride so band k sits
    // between band 0's components (shift embDim/numBands would wrap
    // onto the same component set whenever stride divides it)
    val shift = math.max(1, embDim / (base.length * numBands))
    val bands = (0 until numBands).map(bandIdx =>
      base.map(d => 1 + (d - 1 + bandIdx * shift) % embDim))
    require(bands.flatten.distinct.length == bands.map(_.length).sum,
      s"bands overlap for embDim=$embDim, bits=${base.length}, numBands=$numBands" +
        " — lower numBands or targetBucketRows")
    embeddingNearDupsBanded(emb, threshold, bands, idCol, vecCol)
  }

  /** Banded sign-LSH near-dups, mirroring the minhash band trick: each
    * band is an independent set of hyperplanes, a pair is a candidate
    * if it collides in ANY band, and candidates are deduped BEFORE the
    * cosine verify. Wider bands keep buckets small (linear work);
    * multiple bands buy back the recall a single wide band loses —
    * miss probability multiplies across bands. */
  def embeddingNearDupsBanded(
      emb: DataFrame, threshold: Double, bands: Seq[Seq[Int]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(bands.nonEmpty)
    val buckets = array(bands.map(d =>
      graft.similarity.Ann.signBucket(vecCol, d)): _*)
    val withB = emb.select(col(idCol), posexplode(buckets).as(Seq("band", "bucket")))
    val cand = withB.toDF(s"a_$idCol", "band", "bucket")
      .join(withB.toDF(s"b_$idCol", "band", "bucket"), Seq("band", "bucket"))
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .select(col(s"a_$idCol"), col(s"b_$idCol"))
      .distinct()
    val vecs = emb.select(col(idCol), col(vecCol))
    cand
      .join(vecs.toDF(s"a_$idCol", "a_vec"), s"a_$idCol")
      .join(vecs.toDF(s"b_$idCol", "b_vec"), s"b_$idCol")
      .select(col(s"a_$idCol"), col(s"b_$idCol"),
        Vectors.cosine(col("a_vec"), col("b_vec")).as("cos"))
      .filter(col("cos") > threshold)
      .select(col(s"a_$idCol"), col(s"b_$idCol"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Edit-distance (Levenshtein) near-match pairs — the fuzzy-title /
    * template-variant sweep that hash dedup misses (hashing is
    * all-or-nothing; one edited character defeats it).
    *
    * Blocking keeps it off the doc×doc cliff: candidates must share
    * (first `blockPrefix` normalized chars, length bucket of
    * `lenBucket` chars) — an equi-join on the block key, linear in
    * bucket sizes, never an all-pairs product. An edit within the
    * prefix escapes the prefix block (the classic prefix-blocking
    * recall gap); `suffixBlock = true` closes it with a SECOND blocked
    * arm keyed on the last `blockPrefix` normalized chars — a pair can
    * only escape both arms when edits hit the prefix AND the suffix.
    * The suffix arm drops group pairs that ALSO share the prefix key
    * (exactly the prefix arm's finds) BEFORE the membership expand, so
    * the two arms are disjoint by construction and union without a
    * pair-level distinct — on a dup-heavy corpus that distinct would
    * shuffle the full expanded pair set a second time (a 10× replica
    * run measured it at ~5× the single-arm cost; the group-level
    * exclusion removes it). An edit past the prefix cannot move the
    * pair more than one length bucket, which the ±1-bucket probe side
    * covers. The distance itself runs on `cmpLen`-char prefixes so
    * cost per candidate is bounded.
    */
  def editDistancePairs(
      docs: DataFrame, maxDist: Int, blockPrefix: Int = 8,
      lenBucket: Int = 32, cmpLen: Int = 80,
      idCol: String = "doc_id", textCol: String = "text",
      suffixBlock: Boolean = false): DataFrame = {
    require(maxDist >= 0 && blockPrefix > 0 && lenBucket > maxDist && cmpLen > 0)
    // the suffix arm's shared-prefix exclusion assumes the compared
    // prefix COVERS the block key: with cmpLen < blockPrefix two docs
    // equal on cmpLen chars but split by the longer block key would be
    // excluded from BOTH arms — a silently lost near-match
    require(cmpLen >= blockPrefix,
      s"cmpLen ($cmpLen) must cover blockPrefix ($blockPrefix)")
    val norm = docs.select(col(idCol),
      TextAnalysis.normalized(col(textCol)).as("__n"))
    // One blocked arm under block key `key`. Group identity =
    // (block key, length bucket, compared-prefix hash): documents in
    // one group are INDISTINGUISHABLE to the distance (it only ever
    // sees the cmpLen prefix), so the expensive work runs once per
    // GROUP pair and doc pairs are recovered by a membership expand.
    // On duplicate-heavy corpora (the realistic case — that's why
    // fuzzy dedup runs) this cuts distance calls by the square of the
    // duplication factor; a 10× replica scale run measured 28 s →
    // ~2 s. md5 group keys follow the d1 exact-dedup convention
    // (collision-free in practice, small shuffle keys).
    def arm(key: Column, excludeSharedPrefix: Boolean = false): DataFrame = {
      val base = norm.select(col(idCol),
        substring(col("__n"), 1, cmpLen).as("nc"),
        key.as("pfx"),
        floor(length(col("__n")) / lenBucket).as("lb"))
        .withColumn("h", md5(col("nc")))
      val groups = base.select(col("pfx"), col("lb"), col("h"), col("nc")).distinct()
      // probe side carries its own bucket plus both neighbors, so pairs
      // whose lengths straddle a bucket edge (possible whenever the
      // length gap ≤ maxDist < lenBucket) still meet; each unordered doc
      // pair survives exactly one of the two probe orientations via the
      // final id ordering
      val probe = groups.select(col("pfx"), col("lb").as("a_lb"),
        col("h").as("a_h"), col("nc").as("a_nc"),
        explode(array(col("lb") - 1, col("lb"), col("lb") + 1)).as("lb"))
      val build = groups.select(col("pfx"), col("lb"),
        col("h").as("b_h"), col("nc").as("b_nc"))
      // cheap integer length guard (a compared-prefix length gap >
      // maxDist already implies distance > maxDist), then the THRESHOLD
      // Levenshtein — banded DP, O(maxDist·cmpLen) per pair with early
      // abandon (returns -1 past the bound) instead of the O(cmpLen²)
      // full matrix.
      // the nc prefix IS the prefix-arm block key (cmpLen ≥
      // blockPrefix), so "this pair also shares the prefix key" is
      // decidable at GROUP level, before any expand
      val sharedPfx =
        substring(col("a_nc"), 1, blockPrefix) ===
          substring(col("b_nc"), 1, blockPrefix)
      val gpairs = probe.join(build, Seq("pfx", "lb"))
        .filter(abs(length(col("a_nc")) - length(col("b_nc"))) <= maxDist)
        .filter(if (excludeSharedPrefix) !sharedPfx else lit(true))
        .select(col("pfx"), col("a_lb"), col("a_h"),
          col("lb").as("b_lb"), col("b_h"),
          levenshtein(col("a_nc"), col("b_nc"), maxDist).cast("long").as("edit_dist"))
        .filter(col("edit_dist").between(0, maxDist))
      val members = base.select(col("pfx"), col("lb"), col("h"), col(idCol))
      gpairs
        .join(members.select(col("pfx"), col("lb").as("a_lb"),
          col("h").as("a_h"), col(idCol).as(s"a_$idCol")), Seq("pfx", "a_lb", "a_h"))
        .join(members.select(col("pfx"), col("lb").as("b_lb"),
          col("h").as("b_h"), col(idCol).as(s"b_$idCol")), Seq("pfx", "b_lb", "b_h"))
        .filter(col(s"a_$idCol") < col(s"b_$idCol"))
        .select(col(s"a_$idCol"), col(s"b_$idCol"), col("edit_dist"))
    }
    val prefixArm = arm(substring(col("__n"), 1, blockPrefix))
    if (!suffixBlock) prefixArm
    // disjoint by construction (the suffix arm excluded every shared-
    // prefix group pair), so plain UNION ALL — no pair-level shuffle
    else prefixArm.unionAll(
      arm(substring(reverse(col("__n")), 1, blockPrefix),
        excludeSharedPrefix = true))
  }
}

/** Array-column vector math as pure catalyst expressions (codegen'd;
  * no UDF). Folds are sequential so results are bit-identical across
  * engines that fold left-to-right. */
object Vectors {
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Composed higher-order-function cosine — reference semantics; kept
    * as the executable spec for [[graft.functions.CosineSimilarity]]. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Fused single-pass native expression (identical sequential-fold
    * semantics, zero intermediate allocation, whole-stage codegen). */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSimilarity(a, b)
}
