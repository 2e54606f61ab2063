package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression guards: the properties that make the engine
  * scale (pushdown reaching the parquet scan, broadcasts on small sides,
  * map-side partial aggregation, and — above all — the shuffle-free
  * extraction hot path) are asserted here so a refactor that silently
  * degrades a plan fails CI, not a 100 TB run.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def formatted(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter pushdown reaches the parquet scan") {
    val p = formatted("q_filter_orders")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(o_totalprice"),
      s"predicate not pushed:\n$p")
    // column pruning: the scan reads only the 3 projected columns
    assert(p.contains("ReadSchema") && !p.contains("o_comment"), "scan not pruned")
  }

  test("small-dimension join broadcasts") {
    val p = formatted("q_join_region")
    assert(p.contains("BroadcastHashJoin"), s"region join not broadcast:\n$p")
  }

  test("oov-rate vocab join broadcasts the vocab side") {
    val p = formatted("q_oov_rate")
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
  }

  test("lm-perplexity scores via broadcast model joins on the unshuffled bigram stream") {
    val p = formatted("q_lm_perplexity")
    // both model joins (bigram + prefix counts) must broadcast — the
    // corpus-side bigram stream never shuffles for scoring
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2, s"expected 2 broadcast model joins, got $bhj:\n$p")
    // V arrives as a broadcast scalar, not a driver-side collect
    assert(p.contains("BroadcastNestedLoopJoin"), s"vocab scalar not broadcast:\n$p")
  }

  // formatted mode prints each node in the tree AND the details section;
  // count the "(N) Exchange" detail headers so each shuffle counts once
  // (BroadcastExchange deliberately excluded — broadcasts are not shuffles)
  private def exchanges(p: String): Int = raw"\(\d+\) Exchange".r.findAllIn(p).size

  test("recrawl dedup: row_number and the version count share ONE url-keyed exchange") {
    val p = formatted("q_recrawl_dedup")
    assert(exchanges(p) == 1, s"latest-capture window must shuffle once:\n$p")
    assert(raw"\(\d+\) Window".r.findAllIn(p).size == 2, "both windows expected on the shared shuffle")
  }

  test("bucketed join: co-located tables join with ZERO shuffle exchanges") {
    // broadcast disabled so the guard proves the BUCKET co-location (a
    // broadcast would also hide the shuffle, but only below the threshold)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = formatted("q_bucketed_join")
      assert(exchanges(p) == 0, s"bucketed join must not shuffle:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join over buckets:\n$p")
      // aggregation on the bucket key rides the same layout
      val g = spark.table("b_docs").groupBy("doc_id").count()
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(exchanges(g) == 0, s"bucketed groupBy must not shuffle:\n$g")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("winnow: window min and selection dedup share ONE doc-keyed exchange") {
    // gram build + md5 keys are narrow codegen'd projections; the sliding
    // window shuffles once on doc_id, and the collect_set groupBy reuses
    // that partitioning — a second exchange means the dedup regressed to
    // a (doc_id, sel)-keyed distinct
    val p = formatted("q_winnow")
    assert(exchanges(p) == 1, s"winnow must shuffle exactly once:\n$p")
  }

  test("len quantiles: rank windows and conditional agg share the lang exchange") {
    // row_number + per-lang count ride one lang-keyed shuffle; the
    // conditional-max groupBy on the same key adds at most the final
    // single-partition agg exchange
    val p = formatted("q_len_quantiles")
    assert(exchanges(p) <= 2, s"quantile rank picking grew a shuffle:\n$p")
    assert(raw"\(\d+\) HashAggregate".r.findAllIn(p).size >= 2, "conditional max not partial-agged")
  }

  test("fetch schedule: policy join and slot window share the host shuffle") {
    // one exchange for the frontier host key; the policy side broadcasts at
    // this scale (and at web scale sort-merges on the SAME host key) — the
    // window itself must not add another
    val p = formatted("q_fetch_schedule")
    assert(exchanges(p) <= 2, s"window added an extra shuffle:\n$p")
  }

  test("line dedup: distinct-count, join and reassembly stay within four exchanges") {
    // (host,line,doc) distinct partial + (host,line) count + doc_id
    // reassembly (+ a possible join shuffle at scale; broadcast here)
    val p = formatted("q_line_dedup")
    assert(exchanges(p) <= 4, s"boilerplate removal shuffle count grew:\n$p")
    assert(raw"\(\d+\) HashAggregate".r.findAllIn(p).size >= 4, "line-frequency count not partial-agged")
  }

  test("aggregations are map-side partial") {
    val p = formatted("q1_agg")
    // partial + final HashAggregate pair around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("exact dedup shuffles digests, not texts") {
    val p = formatted("q_dedup_exact")
    assert(p.contains("md5"), "md5 not in plan")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "dedup agg not partial")
  }

  test("extraction hot path has no shuffle above the kernel") {
    val plan = graft.SparkEntry.queries("q_extract_roundtrip")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toVector
    val kernel = lines.indexWhere(_.contains("MapPartitions"))
    assert(kernel >= 0, s"kernel node missing:\n$plan")
    // tree prints top-down: anything above the kernel (smaller index) runs
    // AFTER it — no Exchange may appear there (the one legitimate Exchange,
    // the compact documents-table spread, sits BELOW the kernel)
    val exchangeAbove = lines.take(kernel).exists(_.contains("Exchange"))
    assert(!exchangeAbove, s"shuffle above the extraction kernel:\n$plan")
    val exchangesBelow = lines.drop(kernel).count(_.contains("Exchange"))
    assert(exchangesBelow <= 1, s"unexpected extra shuffles below kernel:\n$plan")
  }

  test("brute-force ANN broadcasts the query side") {
    val p = formatted("q_ann_cosine")
    assert(p.contains("BroadcastExchange"), s"query set not broadcast:\n$p")
  }

  test("paragraph dedup shuffles chunk digests with partial aggregation") {
    val p = formatted("q_dedup_paragraph")
    assert(p.contains("md5"), "chunk digest not in plan")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"chunk agg not partial:\n$p")
  }

  test("url parse is a pure codegen'd projection — zero shuffles") {
    val plan = graft.SparkEntry.queries("q_url_parse")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"url projection shuffles:\n$plan")
    // "*(n)" is the whole-stage-codegen stage marker in the compact tree print
    assert(plan.contains("*(1) Project"), s"url projection left codegen:\n$plan")
  }

  test("blocklist gate broadcasts the rules — the crawl side never shuffles") {
    val p = formatted("q_blocklist")
    assert(p.contains("BroadcastExchange"), s"domain rules not broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"crawl side shuffles:\n$p")
  }

  test("quality-model inference broadcasts the weight table — the corpus never shuffles") {
    val p = formatted("q_quality_model")
    assert(p.contains("BroadcastExchange"), s"weights not broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"corpus side shuffles:\n$p")
  }

  test("dsir weights broadcast both bucket tables — the occurrence stream shuffles once (doc sum)") {
    val p = formatted("q_dsir_weights")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, s"bucket tables not broadcast:\n$p")
  }

  test("as-of join is union + window, not a range theta-join") {
    val plan = graft.SparkEntry.queries("q_asof_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"no window operator:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of degenerated into a product join:\n$plan")
  }

  test("decontamination broadcasts the eval-gram side; train side never re-shuffles for the join") {
    val p = formatted("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval grams not broadcast:\n$p")
    // grams travel as 8-byte rolled hashes from a typed flatMap — the join
    // key schema is a single bigint, never a gram string
    assert(!p.contains("array_join"), "gram strings must never materialize")
  }

  test("stratified sampling is a pure projection + filter — zero shuffles") {
    val plan = graft.SparkEntry.queries("q_sample_strata")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampler shuffles:\n$plan")
    assert(plan.contains("Filter"), "bucket filter missing")
  }

  test("repetition stats aggregate with map-side partials") {
    val p = formatted("q_rep_quality")
    assert("HashAggregate".r.findAllIn(p).size >= 4, s"per-gram aggs not partial:\n$p")
  }

  test("url canonicalization is a narrow map — zero shuffles") {
    val plan = graft.SparkEntry.queries("q_url_canon")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"canonicalizer shuffles:\n$plan")
  }

  test("vocab top-k plans partial aggregation + TakeOrdered (no global sort)") {
    val plan = graft.SparkEntry.queries("q_vocab_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k fell back to a full sort:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"word counts not partial:\n$plan")
  }

  test("substring dedup plans two shuffles: gram-hash window + doc-keyed merge") {
    val plan = graft.SparkEntry.queries("q_substring_dedup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 2, s"expected gh + doc_id shuffles only, got $exchanges:\n$plan")
    // duplication test is a windowed count (spills per key group), never a
    // collect_list of a hot gram's occurrence set
    assert(plan.contains("Window"), s"gram duplication not a window:\n$plan")
  }

  test("sessionize plans exactly one shuffle (the user_id repartition)") {
    val plan = graft.SparkEntry.queries("q_sessionize")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 1, s"expected one user_id shuffle, got $exchanges:\n$plan")
    assert(plan.contains("Sort"), "within-partition sort missing")
  }

  test("phrase search filters postings to the phrase's terms BEFORE any shuffle; no corpus-wide window") {
    val plan = graft.SparkEntry.queries("q_phrase_search")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the isin term filter must exist (it is what keeps non-matching
    // positions off the exchange) and the intersection must be joins keyed
    // on (doc_id, start) — never a lead()-window over every position
    assert(plan.contains("word") && plan.contains(" IN (") || plan.contains("isin"),
      s"term pre-filter missing:\n$plan")
    assert(!plan.contains("Window"), s"phrase search fell back to a corpus-wide window:\n$plan")
    val exchanges = plan.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("Reused") && !l.contains("Broadcast"))
    assert(exchanges <= 3, s"expected at most one exchange per term stream, got $exchanges:\n$plan")
  }

  test("n-gram language ID broadcasts the profile table; the corpus text never shuffles") {
    val plan = graft.SparkEntry.queries("q_lang_ngram")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"profile join not broadcast:\n$plan")
    // every real exchange must carry the capped trigram/rank/score triples,
    // never the text column itself
    val textExchanges = plan.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("Broadcast") && l.contains("text")).toSeq
    assert(textExchanges.isEmpty, s"text column crossed an exchange:\n$textExchanges")
  }

  test("production BPE encode broadcasts the vocab table — one doc-keyed shuffle, k absent from the plan") {
    val p = formatted("q_bpe_encode")
    assert(p.contains("BroadcastHashJoin"), s"vocab table not broadcast:\n$p")
    val shuffles = exchanges(p)
    assert(shuffles == 1, s"expected only the doc_id sum shuffle, got $shuffles:\n$p")
    // the old replace-chain projection carried one nested replace() pair
    // per merge; the production plan must carry NONE
    assert(!p.contains("replace("), s"merge chain leaked into the plan:\n$p")
  }

  test("wordpiece encode plans the same production shape: broadcast vocab, one doc-keyed shuffle") {
    val p = formatted("q_wordpiece_encode")
    assert(p.contains("BroadcastHashJoin"), s"vocab table not broadcast:\n$p")
    assert(exchanges(p) == 1, s"expected only the doc_id sum shuffle:\n$p")
    assert(!p.contains("replace("), s"merge chain leaked into the plan:\n$p")
  }

  test("SURT keying is a pure zero-shuffle narrow projection") {
    val p = formatted("q_surt")
    // parse_url and the higher-order filter() are invoke-based (not
    // whole-stage-codegen'd) but the projection is still narrow: the guard
    // pins ZERO exchanges and the scan pruned to the 3 source columns
    assert(exchanges(p) == 0, s"surt key must not shuffle:\n$p")
    assert(!p.contains("text"), s"scan not pruned to url-building columns:\n$p")
  }

  test("catalog-source batch scan pushes column pruning into the DSv2 reader") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graftplancat").toFile.getAbsolutePath
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L, "payload-a"), ("b", 2L, "payload-b")).toDF("k", "v", "blob"), "t")
    val df = spark.read.format("graft-catalog")
      .option("root", root).option("table", "t").load().select("v")
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the scan description prints the columns the READER will decode — the
    // pruned projection must reach it (payloads never decoded for a v-only
    // query), not sit in a Project above a full-width scan
    assert(p.contains("columns=v"), s"pruned projection did not reach the DSv2 scan:\n$p")
    assert(!p.contains("columns=k,v,blob"), s"scan still full-width:\n$p")
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }
}
