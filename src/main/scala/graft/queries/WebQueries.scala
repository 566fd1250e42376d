package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Tables.documents
import graft.operators.Web

/** Web/URL curation. `documents` carries no URL column, so each query
  * derives a deterministic synthetic URL in-plan (pure function of
  * doc_id/source — the oracle derives the identical string in SQL); the
  * operators under test (parse / registered-domain / canonicalize) see
  * only the url string.
  */
object WebQueries {

  def specs: Seq[QuerySpec] = Seq(

    // URL parsing census: registered domain (eTLD+1 with multi-part public
    // suffixes) × scheme, with explicit-port incidence. Pure codegen'd
    // regexp per row; the only exchange is the census hash agg.
    QuerySpec("url_parse", (s, dir) => {
      val u = documents(s, dir).withColumn("url", syntheticUrl)
      u.select(
          Web.registeredDomain(Web.host(col("url"))).as("reg_domain"),
          Web.scheme(col("url")).as("scheme"),
          Web.port(col("url")).as("prt"),
          col("doc_id"))
        .groupBy(col("reg_domain"), col("scheme"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("prt").isNotNull, 1L).otherwise(0L)).as("n_explicit_port"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("reg_domain"), col("scheme"))
    },
      oracleSql = Some(s"""WITH $syntheticUrlSql,
         |p AS (
         |  SELECT doc_id,
         |         lower(regexp_extract(url, $urlPatSql, 1)) AS scheme,
         |         lower(regexp_extract(url, $urlPatSql, 2)) AS hst,
         |         regexp_extract(url, $urlPatSql, 3) AS p3
         |  FROM u),
         |r AS (
         |  SELECT doc_id, scheme,
         |         CASE WHEN p3 = '' THEN NULL ELSE substr(p3, 2)::INT END AS prt,
         |         ${regDomainSql("hst")} AS reg_domain
         |  FROM p)
         |SELECT reg_domain, scheme, count(*)::BIGINT AS n_urls,
         |       sum(CASE WHEN prt IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_explicit_port,
         |       min(doc_id)::BIGINT AS first_doc
         |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // URL canonicalization: tracking params stripped, survivors sorted,
    // default ports and fragments dropped, case folded — sampled rows so
    // the oracle check sees the exact canonical string per input.
    QuerySpec("url_canonicalize", (s, dir) => {
      documents(s, dir).withColumn("url", syntheticUrl)
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), col("url"),
          Web.canonicalizeUrl(col("url")).as("canonical_url"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some(s"""WITH $syntheticUrlSql,
         |f AS (SELECT doc_id, url FROM u WHERE doc_id % 10 = 0),
         |${canonicalCteSql("f")}
         |SELECT doc_id, url, canonical_url
         |FROM canon ORDER BY doc_id""".stripMargin)),

    // URL-level dedup: documents whose URLs differ only by canonicalization
    // noise (case, default port, tracking params, param order, fragment)
    // fold onto one canonical key; keep-min-doc per key. Exact-dedup shape:
    // one hash agg on the short canonical string, bodies never shuffle.
    QuerySpec("url_dedup", (s, dir) => {
      documents(s, dir).withColumn("url", syntheticNoisyUrl)
        .select(col("doc_id"), Web.canonicalizeUrl(col("url")).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy(col("canonical_url"))
    },
      oracleSql = Some(s"""WITH $syntheticNoisyUrlSql,
         |${canonicalCteSql()}
         |SELECT canonical_url, min(doc_id)::BIGINT AS keep_id,
         |       count(*)::BIGINT AS n_dups
         |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** Deterministic synthetic absolute URL per document — wide variety
    * (schemes, multi-part-suffix hosts, explicit/default ports, tracking
    * params, fragments) so the parse/canonicalize operators are exercised
    * on every branch. Mirrored literally in the DuckDB oracle.
    */
  private def syntheticUrl: Column = {
    val id = col("doc_id")
    val sch = when(pmod(id, lit(4)) === 0, lit("HTTP"))
      .when(pmod(id, lit(4)) === 1, lit("https"))
      .when(pmod(id, lit(4)) === 2, lit("http"))
      .otherwise(lit("HTTPS"))
    val hostBase = concat(col("source"), pmod(id, lit(7)).cast("string"))
    val hst = when(pmod(id, lit(3)) === 0,
        concat(lit("WWW."), upper(hostBase), lit(".Example.CO.UK")))
      .when(pmod(id, lit(3)) === 1, concat(hostBase, lit(".example.com")))
      .otherwise(concat(lit("cdn."), hostBase, lit(".example.org")))
    val prt = when(pmod(id, lit(5)) === 0,
        when(lower(sch) === "http", lit(":80")).otherwise(lit(":443")))
      .when(pmod(id, lit(11)) === 0, lit(":8080"))
      .otherwise(lit(""))
    val pth = concat(lit("/docs/"), pmod(id, lit(50)).cast("string"),
      when(pmod(id, lit(6)) === 0, lit("/index.html")).otherwise(lit("")))
    val qs = when(pmod(id, lit(4)) === 0,
        concat(lit("?utm_source=feed&id="), pmod(id, lit(20)).cast("string")))
      .when(pmod(id, lit(4)) === 1,
        concat(lit("?id="), pmod(id, lit(20)).cast("string"), lit("&utm_campaign=x&b=2")))
      .when(pmod(id, lit(4)) === 2, lit("?z=9&a=1&fbclid=abc"))
      .otherwise(lit(""))
    val frag = when(pmod(id, lit(7)) === 0, lit("#sec2")).otherwise(lit(""))
    concat(sch, lit("://"), hst, prt, pth, qs, frag)
  }

  /** Synthetic URL whose per-document variation lives ENTIRELY in
    * canonicalization noise (scheme/host case, default port, tracking
    * params, param order, fragment) — canonical form depends only on
    * (source, doc_id mod 10), so url_dedup finds real duplicate groups.
    */
  private def syntheticNoisyUrl: Column = {
    val id = col("doc_id")
    val sch = when(pmod(id, lit(2)) === 0, lit("HTTPS")).otherwise(lit("https"))
    val hostBase = concat(col("source"), lit(".example.com"))
    val hst = when(pmod(id, lit(3)) === 0, upper(hostBase))
      .when(pmod(id, lit(3)) === 1,
        concat(upper(hostBase.substr(lit(1), lit(1))), hostBase.substr(lit(2), lit(255))))
      .otherwise(hostBase)
    val prt = when(pmod(id, lit(5)) === 0, lit(":443")).otherwise(lit(""))
    val pth = concat(lit("/p/"), pmod(id, lit(10)).cast("string"))
    val qs = when(pmod(id, lit(2)) === 0,
        concat(lit("?v=1&utm_source=s"), pmod(id, lit(13)).cast("string")))
      .otherwise(concat(lit("?utm_campaign=c"), pmod(id, lit(13)).cast("string"), lit("&v=1")))
    val frag = concat(lit("#x"), id.cast("string"))
    concat(sch, lit("://"), hst, prt, pth, qs, frag)
  }

  /** DuckDB regex literal of [[Web.UrlPattern]] (single-backslash form —
    * both engines parse the same pattern text; it is RE2-safe by design).
    */
  private val urlPatSql = "'" + Web.UrlPattern.replace("\\\\", "\\") + "'"

  private val suffixListSql = Web.MultiPartSuffixes.map(s => s"'$s'").mkString(", ")

  /** SQL mirror of [[Web.registeredDomain]] over a lower-cased host column. */
  private def regDomainSql(h: String): String =
    s"""CASE WHEN regexp_extract($h, '([^.]+\\.[^.]+)$$', 1) = '' THEN $h
       |     WHEN regexp_extract($h, '[^.]+\\.([^.]+\\.[^.]+)$$', 1) IN ($suffixListSql)
       |          AND regexp_extract($h, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) <> ''
       |     THEN regexp_extract($h, '([^.]+\\.[^.]+\\.[^.]+)$$', 1)
       |     ELSE regexp_extract($h, '([^.]+\\.[^.]+)$$', 1) END""".stripMargin

  /** SQL CTE body mirroring [[syntheticUrl]] (same pure function of
    * doc_id/source, emitted as DuckDB string expressions).
    */
  private val syntheticUrlSql =
    """u0 AS (
      |  SELECT doc_id,
      |         CASE doc_id % 4 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
      |                         WHEN 2 THEN 'http' ELSE 'HTTPS' END AS sch0,
      |         source || (doc_id % 7)::VARCHAR AS hb
      |  FROM documents),
      |u AS (
      |  SELECT doc_id,
      |    sch0 || '://' ||
      |    CASE doc_id % 3 WHEN 0 THEN 'WWW.' || upper(hb) || '.Example.CO.UK'
      |                    WHEN 1 THEN hb || '.example.com'
      |                    ELSE 'cdn.' || hb || '.example.org' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN
      |           (CASE WHEN lower(sch0) = 'http' THEN ':80' ELSE ':443' END)
      |         WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END ||
      |    '/docs/' || (doc_id % 50)::VARCHAR ||
      |    CASE WHEN doc_id % 6 = 0 THEN '/index.html' ELSE '' END ||
      |    CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&id=' || (doc_id % 20)::VARCHAR
      |                    WHEN 1 THEN '?id=' || (doc_id % 20)::VARCHAR || '&utm_campaign=x&b=2'
      |                    WHEN 2 THEN '?z=9&a=1&fbclid=abc' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END AS url
      |  FROM u0)""".stripMargin

  /** SQL CTE body mirroring [[syntheticNoisyUrl]]. */
  private val syntheticNoisyUrlSql =
    """u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
      |    CASE doc_id % 3
      |      WHEN 0 THEN upper(source || '.example.com')
      |      WHEN 1 THEN upper(substr(source || '.example.com', 1, 1)) ||
      |                  substr(source || '.example.com', 2)
      |      ELSE source || '.example.com' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
      |    '/p/' || (doc_id % 10)::VARCHAR ||
      |    CASE WHEN doc_id % 2 = 0 THEN '?v=1&utm_source=s' || (doc_id % 13)::VARCHAR
      |         ELSE '?utm_campaign=c' || (doc_id % 13)::VARCHAR || '&v=1' END ||
      |    '#x' || doc_id::VARCHAR AS url
      |  FROM documents)""".stripMargin

  /** SQL CTEs `p` (parse of `u.url`) and `c` (canonical pieces) mirroring
    * [[Web.canonicalizeUrl]] — shared by the url_canonicalize / url_dedup
    * oracles.
    */
  private def canonicalCteSql(from: String = "u") =
    s"""p AS (
       |  SELECT doc_id, url,
       |         lower(regexp_extract(url, $urlPatSql, 1)) AS sch,
       |         lower(regexp_extract(url, $urlPatSql, 2)) AS hst,
       |         regexp_extract(url, $urlPatSql, 3) AS p3,
       |         regexp_extract(url, $urlPatSql, 4) AS p4,
       |         regexp_extract(url, $urlPatSql, 5) AS p5
       |  FROM $from),
       |c AS (
       |  SELECT doc_id, url, sch, hst,
       |         CASE WHEN p3 = '' THEN NULL ELSE substr(p3, 2)::INT END AS prt,
       |         CASE WHEN p4 = '' THEN '/' ELSE p4 END AS pth,
       |         array_to_string(list_sort(list_filter(
       |           string_split(CASE WHEN p5 = '' THEN '' ELSE substr(p5, 2) END, '&'),
       |           x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)='))), '&') AS qs
       |  FROM p),
       |canon AS (
       |  SELECT doc_id, url,
       |         sch || '://' || hst ||
       |         CASE WHEN prt IS NOT NULL AND NOT ((sch = 'http' AND prt = 80)
       |                                         OR (sch = 'https' AND prt = 443))
       |              THEN ':' || prt::VARCHAR ELSE '' END ||
       |         pth ||
       |         CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url
       |  FROM c)""".stripMargin
}
