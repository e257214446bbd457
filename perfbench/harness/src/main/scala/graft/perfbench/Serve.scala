package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Serving

/** The serve side of the `live` workload: the request mix sent to
  * `api.Serving`, each answer checked.
  */
object Serve {

  val K = 10
  val PageLimit = 20
  val Users = 200
  /** Catalog items are `p_partkey` 1..Items of the catalog's part table. */
  val Items = 20000
  val MaxOffset = 1000

  /** The catalog the API pages and scores: one row per item. */
  def catalog(spark: SparkSession, dir: String): DataFrame =
    graft.tables.Tables.part(spark, dir).select(col("p_partkey").as("item_id"),
      col("p_name"), col("p_retailprice"), col("p_size"))

  /** Content scores relative to a seed item's price and size. */
  def contentScored(catalog: DataFrame, seed: Long): DataFrame = {
    val s = catalog.filter(col("item_id") === seed)
      .select(col("p_retailprice").as("sp"), col("p_size").as("ss"))
    catalog.crossJoin(broadcast(s)).select(col("item_id"),
      graft.ops.Num.roundAt(lit(1.0) / (lit(1.0) +
        abs(col("p_retailprice") - col("sp")) / lit(100.0) +
        abs(col("p_size") - col("ss"))), 6).as("score"))
  }

  /** Builds the request's DataFrame. */
  def build(api: Serving, cat: DataFrame, r: Draw.Request): DataFrame =
    r.kind match {
      case "collaborative" => api.collaborative(Seq(r.user), K)
      case "hybrid" => api.hybrid(r.user, contentScored(cat, r.item), K)
      case "content" => api.contentSimilar(contentScored(cat, r.item), r.item, K)
      case "page" => api.catalogPage(cat, "item_id", PageLimit, r.offset)
    }

  /** Why the answer to `r` is wrong, if it is. */
  def verdict(r: Draw.Request, rows: Seq[Row]): Option[String] = {
    def ranked(rs: Seq[Row], k: Int): Option[String] = {
      val ranks = rs.map(_.getAs[Number]("rank").intValue)
      val scores = rs.map(_.getAs[Number]("score").doubleValue)
      if (rs.size != k) Some(s"${rs.size} rows, want $k")
      else if (ranks != (1 to k)) Some(s"ranks $ranks")
      else if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a })
        Some(s"scores increase: $scores")
      else None
    }
    r.kind match {
      case "collaborative" =>
        if (rows.exists(_.getAs[Number]("user_id").intValue != r.user))
          Some("rows for another user")
        else ranked(rows, K)
      case "hybrid" =>
        val (collab, content) = rows.partition(_.getAs[String]("source") == "collab")
        val nCollab = math.ceil(K * 0.7).toInt
        if (rows.map(_.getAs[String]("source")) !=
            Seq.fill(nCollab)("collab") ++ Seq.fill(K - nCollab)("content"))
          Some(s"split ${collab.size}/${content.size}, want $nCollab/${K - nCollab}")
        else ranked(collab, nCollab).orElse(ranked(content, K - nCollab))
      case "content" =>
        if (rows.exists(_.getAs[Long]("item_id") == r.item)) Some("seed item served")
        else ranked(rows, K)
      case "page" =>
        val ids = rows.map(_.getAs[Long]("item_id"))
        val rns = rows.map(_.getAs[Number]("rn").longValue)
        if (rns != (r.offset + 1L to r.offset + PageLimit.toLong)) Some(s"rn $rns")
        else if (ids != ids.sorted) Some("page out of order")
        else None
    }
  }

  /** Sends one request and checks its answer; returns its rows when they
    * are right, with the request's seconds (construction plus collect).
    */
  def request(run: Run, spark: SparkSession, api: Serving, cat: DataFrame,
      r: Draw.Request, label: String): Option[(Seq[Row], Double)] = {
    val t0 = System.nanoTime()
    run.attempt(label) {
      run.tagged(spark, r.kind) {
        val df = run.tracer.span(s"api.build.${r.kind}", r.kind)(build(api, cat, r))
        run.tracer.span(s"api.collect.${r.kind}", r.kind)(df.collect().toSeq)
      }
    }.map(rows => (rows, Env.secondsSince(t0))).filter { case (rows, _) =>
      verdict(r, rows).map(run.wrong(label, _)).isEmpty
    }
  }
}
