package graft.tools

import org.apache.spark.sql.functions._

/** Adversarial memory test for the inverted index's posting cap
  * (round-7 fix): a synthetic corpus where ONE stopword term appears
  * in EVERY document, at sf10-class document counts — the exact input
  * whose full posting list dwarfs any single aggregation buffer. With
  * the TopKAgg-bounded postings the buffer holds <= maxPostings ids
  * per term no matter the corpus (map-side discard before the
  * exchange); the pre-fix collect_list form materialized all N ids in
  * one ObjectHashAggregate buffer first.
  *
  * Prints result rows, the stopword's df (must equal N — exactness of
  * df/tf is not traded for the bound), wall time, and peak heap after
  * the job (driver-side proxy for single-JVM local mode; the real
  * signal is completing at all — 50M longs in one buffer would be the
  * first thing to die under a small -Xmx).
  *
  * Usage: StopwordStress [nDocs]   (default 50,000,000 = sf10-class)
  * Run with a DELIBERATELY small heap to make unboundedness fatal:
  *   GRAFT_RUN_XMX=8g tools/run.sh graft.tools.StopwordStress
  */
object StopwordStress {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50000000L)
    val spark = graft.GraftSession.batch()
    spark.sparkContext.setLogLevel("WARN")
    // every doc: the stopword + a mostly-unique tail term, so one term
    // has df = n while the long tail keeps the term dictionary honest
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("the w"), (col("id") % 1000000).cast("string"))
        .as("text"))
    val t0 = System.nanoTime()
    // GRAFT_STOPWORD_UNBOUNDED=1 runs the PRE-FIX form (negative
    // control): full collect_list sliced after the fact — the buffer
    // the TopKAgg fix removed. Expected to OOM/spill-crawl under the
    // small heap where the bounded form cruises.
    val idx =
      if (sys.env.get("GRAFT_STOPWORD_UNBOUNDED").contains("1")) {
        val toks = split(regexp_replace(lower(trim(col("text"))),
          "\\s+", " "), " ")
        docs.select(col("doc_id"),
            explode(filter(toks, t => length(t) > 0)).as("term"))
          .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
          .groupBy("term")
          .agg(count(lit(1)).as("df"), sum("tf").as("tf_total"),
            array_join(slice(array_sort(collect_list(col("doc_id"))),
              1, 1000), ",").as("postings"),
            (count(lit(1)) > 1000).as("postings_capped"))
      } else graft.ops.Index.invertedIndex(docs, "doc_id", "text",
        maxPostings = 1000)
    val rows = idx.count()
    val the = idx.filter(col("term") === "the")
      .select("df", "tf_total", "postings_capped").collect().head
    val dt = (System.nanoTime() - t0) / 1e9
    val rt = Runtime.getRuntime
    val heapGb = (rt.totalMemory() - rt.freeMemory()) / 1e9
    println(f"STOPWORD_STRESS n=$n terms=$rows " +
      f"the_df=${the.getLong(0)} the_tf=${the.getLong(1)} " +
      f"capped=${the.getBoolean(2)} time_s=$dt%.1f heap_gb=$heapGb%.1f")
    assert(the.getLong(0) == n, "df must stay exact under the cap")
    assert(the.getBoolean(2), "the stopword must report capped postings")
    spark.stop()
  }
}
