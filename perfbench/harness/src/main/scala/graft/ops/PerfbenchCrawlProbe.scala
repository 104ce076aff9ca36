package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The crawl composition's extraction + URL-dedup prefix, rebuilt from the
  * same members [[Curation.crawlToChunks]] uses (the page template, HTML
  * extraction, the two-fetch log and URL normalization). It lives in this
  * package only because `Urls.fetchLog` is package-private. The benchmark's
  * traced run forces this prefix on its own so the crawl op can be split
  * into ingest, extract+gate, curate and chunk time. */
object PerfbenchCrawlProbe {
  def crawled(valid: DataFrame): DataFrame = {
    val extracted = valid
      .select(col("doc_id"), col("lang"),
        expr(TextAnalysis.htmlPageTemplateExpr).as("html"))
      .select(col("doc_id"), col("lang"),
        graft.functions.GraftFunctions.html_to_text(col("html")).as("text"))
    val keepers = Urls.fetchLog(extracted)
      .groupBy(graft.functions.GraftFunctions.url_normalize(col("url")).as("url_norm"))
      .agg(count(lit(1)).as("n_fetches"), min(col("fetch_id")).as("keeper"))
      .filter(col("n_fetches") === 2)
      .select(col("keeper").as("doc_id"))
    extracted.join(keepers, Seq("doc_id")).select("doc_id", "text", "lang")
  }
}
