package graft.dedup

import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for the training-data pipeline, each written
  * the way it has to work at 10^8+ documents:
  *
  *  - exact: hash-groupBy (one shuffle on the text hash, not the text);
  *  - n-gram Jaccard: *inverted-index self-join* on shingles with a
  *    document-frequency cap — never a cross join;
  *  - MinHash+LSH: single-pass signatures → banded bucket join →
  *    exact verification of candidates only;
  *  - SimHash: 64-bit fingerprint → 16-bit band bucket join → hamming
  *    verification.
  */
object Dedup {

  /** Word n-gram shingles of a text column (space-joined, distinct in
    * first-occurrence order). Safe for texts shorter than n (empty array,
    * not an error). NULL text yields NULL (nullIntolerant), not an empty
    * array — callers that need the empty-array contract should wrap with
    * `coalesce(shingles(c), array())`; every in-repo caller (explode,
    * `size(...) > 0` filters, MinHashSig) treats the two identically.
    * ONE fused expression ([[WordShingles]]) — the Column
    * spelling (split → sequence → transform(concat_ws(slice)) →
    * array_distinct) allocates five intermediate arrays and rebuilds
    * every shingle string per row; the fused form exploits that a
    * space-joined shingle IS a byte span of the original text (split
    * consumes exactly the single-space separators), so each shingle is a
    * zero-copy slice.
    */
  def shingles(text: Column, n: Int = 3): Column =
    EU.column(WordShingles(EU.expression(text), n))

  /** [[Dedup.shingles]]'s engine: split the UTF-8 bytes on 0x20, emit the
    * distinct word-n-gram byte spans in first-occurrence order. Each
    * shingle is `UTF8String.fromBytes(base, start_i, end_(i+n-1))` — no
    * per-shingle string building: `concat_ws(" ", words[i..j])` equals
    * the original byte span because `split(" ")` consumes exactly one
    * space per separator (empty words reproduce runs of spaces).
    */
  case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, "shingle width must be >= 1")
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "word_shingles"
    override val dataType: DataType = ArrayType(StringType, containsNull = false)

    // the memo tag is shared across duplicate instances of the same
    // logical shingling (CollapseProject inlines the column into every
    // use — e.g. minHashPairs evaluates it for the signature AND the
    // emptiness filter; back-to-back duplicate evals hit the memo)
    @transient private lazy val memoTag: AnyRef = s"word_shingles_$n"

    override def nullSafeEval(input: Any): Any =
      graft.functions.EvalMemo.memo(memoTag, input.asInstanceOf[UTF8String])(
        compute(input))

    def compute(input: Any): ArrayData = {
      val s = input.asInstanceOf[UTF8String]
      val bytes = s.getBytes
      val len = bytes.length
      // word boundaries: starts(i) .. ends(i) exclusive, split on ' '
      var words = 1
      var i = 0
      while (i < len) { if (bytes(i) == ' '.toByte) words += 1; i += 1 }
      if (words < n) return new GenericArrayData(Array.empty[Any])
      val starts = new Array[Int](words)
      val ends = new Array[Int](words)
      var w = 0
      starts(0) = 0
      i = 0
      while (i < len) {
        if (bytes(i) == ' '.toByte) { ends(w) = i; w += 1; starts(w) = i + 1 }
        i += 1
      }
      ends(w) = len
      val seen = new java.util.HashSet[UTF8String](words * 2)
      val out = new scala.collection.mutable.ArrayBuffer[Any](words - n + 1)
      var j = 0
      while (j <= words - n) {
        val from = starts(j)
        val until = ends(j + n - 1)
        val sh = UTF8String.fromBytes(bytes, from, until - from)
        if (seen.add(sh)) out += sh
        j += 1
      }
      new GenericArrayData(out.toArray)
    }

    def evalInput(s: Any): ArrayData = nullSafeEval(s).asInstanceOf[ArrayData]

    // codegen must route through evalInput (the memoized nullSafeEval), not
    // compute() directly — whole-stage codegen is the normal execution path,
    // and CollapseProject duplicates this expression per use site there too
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.evalInput($v);")
    }

    override protected def withNewChildInternal(c: Expression): WordShingles =
      copy(child = c)
  }

  /** Exact dedup: keep the lowest id per identical text. Groups on a
    * 64-bit hash so the shuffle key is 8 bytes, with full-text equality
    * confirmed inside the group (collision-safe).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)), col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col(textCol), col("n_copies"))

  /** All pairs with shingle-Jaccard ≥ threshold, via inverted index:
    * explode distinct shingles, group them into per-shingle posting lists,
    * expand the intra-posting pairs, count intersections, compute
    * |A∩B|/(|A|+|B|-|A∩B|). Never a cross join.
    *
    * The `maxDf` frequency cap is the skew guard — a shingle appearing in
    * more than `maxDf` docs is a stop-shingle and can't identify near-dups
    * anyway. It is enforced *inside* the posting-list aggregation
    * ([[graft.functions.BoundedCollectList]]): a posting saturates at
    * `maxDf` entries and collapses to NULL, so hot shingles cost O(maxDf)
    * memory and are dropped in the same single pass. This replaces the
    * earlier count → anti-join shape, which needed a second corpus scan
    * plus an extra shuffle and — worse — a broadcast of the stop-shingle
    * set, a set that grows with the corpus (at 100 TB every common English
    * trigram exceeds any sane maxDf) and would OOM the driver.
    *
    * Pair fan-out is bounded: a posting of p ≤ maxDf ids expands to
    * p·(p-1)/2 pairs, so the expansion never exceeds maxDf²/2 rows per
    * shingle regardless of corpus size. Uncapped (`maxDf ≥ Int.MaxValue`)
    * falls back to the plain self-join, whose hot keys shuffle (postings
    * must stay distributed when no cap bounds them).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, maxDf: Long = Long.MaxValue): DataFrame = {
    // each doc's FULL shingle-set size (the |A| of the jaccard
    // denominator — computed before any stop-shingle drop) rides along
    // with the id through the posting pipeline, so the intersection
    // counts come out already carrying |A| and |B|: one corpus scan
    // total, and no post-hoc size joins (the previous shape re-scanned
    // the corpus for sizes and joined it twice)
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), n).as("shs"))
      .select(col("id"), size(col("shs")).as("n"), explode(col("shs")).as("s"))
    val inter =
      // maxDf ≥ Int.MaxValue is semantically uncapped (a posting that
      // large can't expand in-group anyway) — plain self-join, not an
      // error, so the Long-typed API accepts any cap
      if (maxDf >= Int.MaxValue) {
        // visible plan change (ADVICE r4): a caller passing Int.MaxValue
        // as a "finite" cap gets the uncapped self-join, not bounded
        // postings — log it so the reroute is never silent
        System.err.println(
          s"graft: jaccardPairs maxDf=$maxDf >= Int.MaxValue — uncapped self-join plan (no bounded postings)")
        sh.as("a").join(sh.as("b"),
            col("a.s") === col("b.s") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("c"),
            max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      } else {
        val postings = sh.groupBy("s")
          .agg(graft.functions.BoundedCollectList(
            struct(col("id"), col("n")), maxDf.toInt).as("ids"))
          .filter(col("ids").isNotNull) // NULL = saturated = stop-shingle
        postings
          .select(explode(col("ids")).as("a"), col("ids"))
          .select(col("a"), explode(col("ids")).as("b"))
          .filter(col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("c"),
            max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      }
    inter
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash LSH candidate pairs: k-hash signatures banded into
    * `bands` buckets of `k/bands` rows; docs sharing any band bucket are
    * candidates; candidates are verified by exact shingle Jaccard.
    * Deterministic (fixed hash seeds). Collapses the O(n²) search to a
    * bucket join whose fan-out is bounded by true near-dup density.
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 64, bands: Int = 16, n: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val withSig = df.select(col(idCol).as("id"), col(textCol).as("text"),
        MinHashSig(shingles(col(textCol), n), k).as("sig"))
      .filter(size(shingles(col("text"), n)) > 0)
    // band value = hash of the signature slice
    val banded = withSig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", transform(slice(col("sig"), b * r + 1, lit(r)), _.cast("string")), b.cast("string"))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // checkpointed: the candidate list (small by LSH's design — bounded
    // by true near-dup density) feeds BOTH the id semi-filter and the
    // verification joins, and without the checkpoint the expensive
    // banded self-join would be evaluated once per consumer
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .localCheckpoint()
    // exact verification of candidates only — and shingles RE-computed
    // only for docs that appear in some candidate pair: the semi-join
    // prunes the corpus before the shingle projection, so the expensive
    // second shingling is O(candidates), not O(corpus) (the candidate id
    // set is small by LSH's design, so AQE broadcasts the semi join and
    // the corpus is never shuffled here). Measured ~0.2 s SLOWER at
    // sf0.1 (checkpoint + semi-join fixed cost vs a mere 10k-doc corpus)
    // and kept anyway: the avoided work grows with the corpus, the added
    // work only with the candidate set — at target scale the trade is
    // decisively the other way
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val sh = df.select(col(idCol).as("id"), col(textCol))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), shingles(col(textCol), n).as("sh"))
    cands
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sha"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "shb"), "id_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Near-dup clusters from a pair list: connected components by
    * iterative min-label propagation, the shuffle-bounded way to turn
    * pairwise near-dups into dedup groups (keep `min(id)` per cluster,
    * drop the rest). Converges in O(component diameter) rounds — near-dup
    * clusters are shallow (dups of dups of one source), so in practice
    * 2-4 rounds; each round is one shuffle join keyed by vertex.
    * `localCheckpoint` truncates the plan lineage per round so the loop
    * does not compound (the driver-side loop is control flow only — all
    * data stays distributed; this is how label-propagation components are
    * done on any Spark cluster).
    *
    * Returns (id, cluster) where cluster = min id reachable.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    // both edge directions from ONE pass over the pair plan (the pair list
    // is itself an expensive join/agg — a union of two selects would
    // evaluate that plan twice)
    val edges = pairs.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // pre-partition + pre-sort on the join key BEFORE the checkpoint:
      // localCheckpoint preserves outputPartitioning/ordering through
      // LogicalRDD, so every round's edges⋈labels join reuses this side
      // as-is and only the (much smaller) labels side exchanges — the
      // edge list is the big invariant operand of the whole loop
      .repartition(col("src"))
      .sortWithinPartitions("src")
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    val maxRounds = 50
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "src").withColumnRenamed("cluster", "srcCluster"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("srcCluster")).as("nbr"))
      // one checkpointed frame per round serves both the convergence test
      // and the next labels; the convergence count rides the checkpoint's
      // own materialization job as an observed metric instead of costing
      // a second scan (fallback to a count if the observation didn't
      // attach — e.g. a future Spark materializing checkpoints outside
      // the listener path)
      val obs = org.apache.spark.sql.Observation(s"lp_round_$rounds")
      val merged = labels.join(nbrMin, Seq("id"), "left")
        .observe(obs, sum(when(col("nbr") < col("cluster"), lit(1L)).otherwise(lit(0L)))
          .as("changed"))
        .localCheckpoint()
      val observed =
        try EU.awaitObserved(obs, 5.seconds).get("changed")
        catch { case _: java.util.concurrent.TimeoutException => None }
      changed = observed match {
        case Some(v: java.lang.Long) => v.longValue()
        case _ => merged.filter(col("nbr") < col("cluster")).count()
      }
      val propagated = merged.select(col("id"),
        least(col("cluster"), coalesce(col("nbr"), col("cluster"))).as("cluster"))
      // pointer jumping: follow cluster → label(cluster) once per round,
      // so a chain component's reach doubles each round and convergence is
      // O(log diameter) — a plain neighbor walk needs O(diameter) rounds
      // and a 10⁶-long dup chain would exhaust any fixed cap. Skipped on
      // the first two rounds: diameter ≤ 2 components (the overwhelmingly
      // common near-dup shape — copies of one source) converge there
      // without it, so the common case pays zero extra joins while deep
      // chains still get the exponential reach from round 3 on.
      labels =
        if (rounds < 2) propagated // cheap projection over checkpointed `merged`
        else {
          val byId = propagated.select(col("id").as("_pid"), col("cluster").as("_pcluster"))
          propagated
            .join(byId, propagated("cluster") === byId("_pid"), "left")
            .select(col("id"),
              least(col("cluster"), coalesce(col("_pcluster"), col("cluster"))).as("cluster"))
            .localCheckpoint()
        }
      rounds += 1
    }
    // silent non-convergence would split one true cluster into several
    // labels and dedupByClusters would keep extra duplicates
    if (changed > 0)
      throw new IllegalStateException(
        s"label propagation did not converge in $maxRounds rounds " +
          "(component diameter > 2^50 is not a real graph — investigate)")
    labels.select("id", "cluster")
  }

  /** Full near-dup dedup verdict over a corpus: every document, its
    * cluster representative (`min` id — the kept copy), and whether it
    * survives. Documents in no near-dup pair are their own cluster.
    */
  def dedupByClusters(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val comp = clusters(pairs)
    df.select(col(idCol).as("id"))
      .join(comp.withColumnRenamed("cluster", "rep"), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("rep"), col("id")).as("kept_id"))
      .withColumn("survives", col(idCol) === col("kept_id"))
  }

  /** SimHash near-dup pairs: 64-bit fingerprints; pairs within `maxHamming`
    * bits found by banding the fingerprint into four 16-bit keys (any pair
    * with ≤3 differing bits must agree on at least one band — pigeonhole),
    * then verifying the true hamming distance.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole guarantees recall only for <=3 bits")
    val fp = df.select(col(idCol).as("id"),
      SimHash64(split(col(textCol), " ")).as("fp"))
    val bandKeys = array((0 until 4).map(b =>
      shiftright(col("fp"), b * 16).bitwiseAND(lit(0xffffL))): _*)
    val banded = fp.select(col("id"), col("fp"), posexplode(bandKeys))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.fp").as("fp_a"),
        col("b.id").as("id_b"), col("b.fp").as("fp_b"))
      .distinct()
    cands
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Every k-token window occurrence: `(id, start, wtext)` with `start`
    * the 0-based whitespace-token index. Unlike [[shingles]] (distinct
    * set semantics for Jaccard), span work needs EVERY occurrence with
    * its position — within-doc repeats included — so this is the plain
    * Column spelling over `\s+` tokens (the [[graft.text.TextAnalysis]]
    * tokenization, making the windows SQL-replayable).
    */
  def spanWindows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"span width must be >= 1, got $k")
    val words = when(length(trim(col(textCol))) === 0, array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    df.select(col(idCol).as("id"), words.as("_w"))
      .select(col("id"), posexplode(
        when(size(col("_w")) < k, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(col("_w")) - k),
            s => array_join(slice(col("_w"), s + 1, lit(k)), " ")))))
      .withColumnRenamed("pos", "start").withColumnRenamed("col", "wtext")
  }

  /** Exact substring dedup at k-token-window granularity (the
    * distributable re-expression of suffix-array substring dedup, Lee et
    * al. 2021 "Deduplicating Training Data Makes Language Models Better"
    * — suffix arrays don't shard, stride-1 hashed windows do): every
    * occurrence of a window whose text repeats ≥ `minDup` times
    * corpus-wide. Output `(id, start, n_occ, n_docs)` per occurrence.
    *
    * Scale shape is [[jaccardPairs]]'s single-pass bounded postings: one
    * corpus scan, windows grouped on `(xxhash64(wtext), wtext)` (8-byte
    * leading shuffle key, in-group text equality — collision-safe as in
    * [[exact]]), occurrences collected via [[graft.functions.BoundedCollectList]]
    * saturating at `maxOcc` → NULL. A span hotter than `maxOcc` is
    * corpus boilerplate ("all rights reserved …") — exactly what a
    * second, cheaper pass with a boilerplate list handles; keeping it
    * would make one reducer key hold the whole corpus. No join anywhere;
    * per-doc window totals come straight off the scan expression.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
      minDup: Int = 2, maxOcc: Int = 1000): DataFrame = {
    require(minDup >= 2 && maxOcc >= minDup,
      s"need minDup >= 2 and maxOcc >= minDup, got minDup=$minDup maxOcc=$maxOcc")
    spanWindows(df, idCol, textCol, k)
      .groupBy(xxhash64(col("wtext")).as("_h"), col("wtext"))
      .agg(graft.functions.BoundedCollectList(
          struct(col("id"), col("start")), maxOcc).as("occs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minDup && col("occs").isNotNull)
      .select(explode(col("occs")).as("o"), col("n_occ"))
      .select(col("o.id").as("id"), col("o.start").as("start"), col("n_occ"))
  }

  /** Exact substring dedup — REMOVAL (the actual output of Lee et al.
    * 2021: the cleaned corpus, not just the span report). Every token
    * covered by a non-surviving duplicated k-window occurrence is cut;
    * the surviving occurrence is the lexicographic-min `(id, start)` of
    * each window group, so exactly ONE copy of every duplicated span
    * remains corpus-wide and the result is independent of partitioning.
    * Output `(id, n_tokens, n_removed, clean_text)`; `clean_text` is the
    * kept tokens space-joined (token-stream surgery — Lee et al. operate
    * on token streams too, so original whitespace is normalized, which
    * is exactly what their tokenizer round-trip does).
    *
    * Scale shape: [[duplicatedSpans]]'s single-pass bounded postings
    * (groups hotter than `maxOcc` are corpus boilerplate, saturated to
    * NULL and left for the cheaper boilerplate pass — so they are NOT
    * removed here, documented), then the cut set flows id-partitioned:
    * explode ×k to covered token indices, per-doc `collect_set`
    * (bounded by the doc's own length), one key-partitioned join back
    * to the corpus, per-row index filter. No corpus broadcast, no
    * cartesian; the only exchanges are the window group and the id
    * aggregation/join.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDup: Int = 2, maxOcc: Int = 1000): DataFrame = {
    require(minDup >= 2 && maxOcc >= minDup,
      s"need minDup >= 2 and maxOcc >= minDup, got minDup=$minDup maxOcc=$maxOcc")
    val occGroups = spanWindows(df, idCol, textCol, k)
      .groupBy(xxhash64(col("wtext")).as("_h"), col("wtext"))
      .agg(graft.functions.BoundedCollectList(
          struct(col("id"), col("start")), maxOcc).as("occs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minDup && col("occs").isNotNull)
    val cuts = occGroups
      // survivor = lexicographic min (id, start); deterministic because
      // a non-saturated posting list holds EVERY occurrence
      .select(array_min(col("occs")).as("keep"), explode(col("occs")).as("o"))
      .filter(col("o") =!= col("keep"))
      .select(col("o.id").as("id"),
        explode(sequence(col("o.start"), col("o.start") + (k - 1))).as("idx"))
      .groupBy("id")
      .agg(sort_array(collect_set(col("idx"))).as("covered"))
    val words = when(length(trim(coalesce(col(textCol), lit("")))) === 0,
        array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    df.select(col(idCol).as("id"), words.as("_w"))
      .join(cuts, Seq("id"), "left")
      .select(col("id"),
        size(col("_w")).cast("long").as("n_tokens"),
        coalesce(size(col("covered")), lit(0)).cast("long").as("n_removed"),
        array_join(
          filter(col("_w"), (_, i) =>
            !array_contains(coalesce(col("covered"), array().cast("array<int>")), i)),
          " ").as("clean_text"))
  }

  /** Per-doc duplicated-span accounting — the curation decision input
    * ("drop docs that are mostly boilerplate", "cut repeated spans"):
    * `(id, n_windows, n_dup_windows)`. Window totals are a pure column
    * expression on the corpus scan (no second explode); duplicated
    * counts aggregate [[duplicatedSpans]] per doc and join back on the
    * id — a key-partitioned join of two already-aggregated sides.
    */
  def spanDupStats(df: DataFrame, idCol: String, textCol: String, k: Int,
      minDup: Int = 2, maxOcc: Int = 1000): DataFrame = {
    val words = when(length(trim(col(textCol))) === 0, array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    val totals = df.select(col(idCol).as("id"),
      greatest(size(words) - (k - 1), lit(0)).cast("long").as("n_windows"))
    val dups = duplicatedSpans(df, idCol, textCol, k, minDup, maxOcc)
      .groupBy("id").agg(count(lit(1)).as("n_dup_windows"))
    totals.join(dups, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  /** Benchmark decontamination (the GPT-3 appendix-C n-gram overlap
    * check, standard in every training pipeline): count each corpus
    * doc's k-token windows that also occur in the benchmark/eval set.
    * `(id, n_hit_windows)` — rows only for contaminated docs; callers
    * drop or audit them.
    *
    * The benchmark side is DISTINCT k-grams of the eval corpus — small
    * and CORPUS-INDEPENDENT (eval sets are fixed; they do not grow with
    * the 100 TB side), so a broadcast semi-join is the correct plan
    * here, in deliberate contrast to the stop-shingle broadcast banned
    * from [[jaccardPairs]] (that set grew with the corpus). The corpus
    * side stays a single scan + explode; no shuffle of corpus windows —
    * only the final per-doc count aggregation shuffles (id, count)
    * partials.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val benchGrams = spanWindows(benchmark, idCol, textCol, k)
      .select(col("wtext")).distinct()
    spanWindows(corpus, idCol, textCol, k)
      .join(broadcast(benchGrams), Seq("wtext"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hit_windows"))
  }

  /** Incremental exact dedup: per NEW-batch doc, does its text already
    * exist byte-identically in the corpus? `(id, n_dups, first_dup,
    * is_new)` — the daily-ingest-vs-100 TB-corpus membership check.
    *
    * Scale shape: the batch (a day's crawl) is orders of magnitude
    * smaller than the corpus but can still be too large to broadcast as
    * a join relation. A Bloom filter over the BATCH text-hashes is
    * bounded by construction (`expectedItems`/`fpp` fix the bit count;
    * 1M items at 1 % ≈ 1.2 MB) and prunes the corpus DURING its one
    * scan — `might_contain` runs inside the scan's codegen span, so only
    * ~|matches| + fpp·|corpus| rows ever reach the verify join's
    * exchange: shuffle volume is O(batch), not O(corpus). False
    * positives die in the exact `(hash, text)` equality join, so the
    * result is exact, and the hash is the leading join key so the
    * exchange partitions on 8 bytes, never on document text (same rule
    * as [[exact]]). `expectedItems` sizes the filter: pass the known
    * batch capacity (like [[graft.sim.Ann]]'s `nlist`), or ≤ 0 to derive
    * it from a `batch.count()` — an UNDERSIZED filter stays exact but
    * its real fpp grows past `fpp` and the prune quietly degrades back
    * toward an O(corpus) exchange, so capacity must track the batch
    * (same lesson as q_embed_neardup's corpus-derived nbits).
    *
    * EAGER, unlike the rest of this module: building the bloom is a
    * Spark action, so constructing the returned DataFrame scans the
    * batch once up front (twice per execution with the verify join) —
    * the same contract as [[graft.sim.Ann.kmeansCentroids]]'s collect.
    *
    * SIZE BOUNDS (the 10⁹-doc-batch safety rails): the optimal filter is
    * ~9.6 bits/item at fpp 1 %, so a 10⁶-doc batch is ~1.2 MB but a
    * 10⁹-doc batch would be a ~1.2 GB plan literal. Two rails:
    *
    *  - the filter is SHARDED by hash prefix (`pmod(xxhash64, N)`) into
    *    N = ceil(totalBytes / `shardBytes`) filters, each a bounded ≤
    *    `shardBytes` literal (default 8 MB — under codegen's reference-
    *    object comfort zone and GC-friendly); all N build in ONE batch
    *    pass (per-partition filter arrays tree-merged) and the corpus
    *    probe selects its shard by the same pmod, so each row still
    *    pays exactly one `might_contain`;
    *  - past `maxBloomBytes` TOTAL (default 128 MB ≈ 10⁸ batch docs) the
    *    bloom is abandoned entirely: shipping a >128 MB plan to every
    *    task costs more than the exchange it avoids, so the verify join
    *    runs unpruned (exact as ever, shuffle O(corpus) — the honest
    *    plan at that batch size, logged loudly).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, expectedItems: Long = -1L, fpp: Double = 0.01,
      shardBytes: Long = 8L << 20, maxBloomBytes: Long = 128L << 20): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.util.sketch.BloomFilter
    val capacity =
      if (expectedItems > 0) expectedItems
      else math.max(batch.count(), 1L)
    // optimal bit count: -n·ln(p) / ln(2)² (the standard bloom formula —
    // what BloomFilter.create allocates)
    val estBytes = math.ceil(
      -capacity * math.log(fpp) / (math.log(2) * math.log(2)) / 8.0).toLong
    val corpusKeyed = corpus
      .select(xxhash64(col(textCol)).as("_ch"), col(textCol).as("_ctext"),
        col(idCol).as("_cid"))
    val pruned =
      if (estBytes > maxBloomBytes) {
        System.err.println(
          s"graft: incrementalDedup batch capacity $capacity needs ~$estBytes bloom bytes" +
          s" > maxBloomBytes $maxBloomBytes — bloom prune disabled, unpruned exact join")
        corpusKeyed
      } else {
        val nShards = math.max(1, math.ceil(estBytes.toDouble / shardBytes).toInt)
        val perShard = math.max(capacity / nShards, 1L)
        val hashRdd = batch.select(xxhash64(col(textCol)).as("_h"))
          .na.drop().rdd.map(_.getLong(0))
        // ONE pass: every partition fills its own shard array, tree-merged
        val filters =
          if (hashRdd.getNumPartitions == 0)
            Array.fill(nShards)(BloomFilter.create(perShard, fpp))
          else hashRdd.mapPartitions { it =>
            val arr = Array.fill(nShards)(BloomFilter.create(perShard, fpp))
            it.foreach(h => arr(java.lang.Math.floorMod(h, nShards.toLong).toInt).putLong(h))
            Iterator.single(arr)
          }.treeReduce { (a, b) =>
            var i = 0
            while (i < nShards) { a(i).mergeInPlace(b(i)); i += 1 }
            a
          }
        val shardLits = filters.map { bf =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          Literal(bos.toByteArray, BinaryType)
        }
        val h = xxhash64(col(textCol))
        // shard-selected probe: exactly one might_contain per corpus row;
        // a single shard keeps the bare expression (no CASE wrapper)
        val probe =
          if (nShards == 1)
            EU.column(BloomFilterMightContain(shardLits(0), EU.expression(h)))
          else {
            val shard = pmod(h, lit(nShards.toLong))
            shardLits.zipWithIndex.foldRight(lit(false)) {
              case ((bfLit, i), rest) =>
                when(shard === i.toLong,
                  EU.column(BloomFilterMightContain(bfLit, EU.expression(h))))
                  .otherwise(rest)
            }
          }
        corpus.filter(probe)
          .select(xxhash64(col(textCol)).as("_ch"), col(textCol).as("_ctext"),
            col(idCol).as("_cid"))
      }
    batch
      .select(col(idCol).as("id"), xxhash64(col(textCol)).as("_bh"),
        col(textCol).as("_btext"))
      .join(pruned,
        col("_bh") === col("_ch") && col("_btext") === col("_ctext"), "left")
      .groupBy("id")
      .agg(count(col("_cid")).as("n_dups"), min(col("_cid")).as("first_dup"))
      .withColumn("is_new", col("n_dups") === 0)
  }
}
