package graft

import graft.Materialize.CheckpointSyntax

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (+ the north-star LLM
  * pipeline operators, §2.11) has an entry in `queries`; the SQL-expressible
  * ones also have a DuckDB oracle in `oracleSql`. Column names are aliased
  * identically on both sides (the driver sorts columns by name before
  * hashing). Every top-k / window query carries a unique tiebreaker so the
  * selected row set is deterministic across engines.
  */
object SparkEntry {

  // ------------------------------------------------------------- helpers

  /** Synthetic geo coordinates derived from lineitem keys (TESTDATA has no
    * Latitude/Longitude columns; SURVEY.md §5.1 parameterizes the bin
    * columns). Exact in IEEE double on both engines: integer modulo then a
    * single division/subtraction.
    */
  private def geoPoints(li: DataFrame): DataFrame =
    li.select(
      ((col("l_partkey") % 1800) / lit(10.0) - lit(90.0)).as("Latitude"),
      ((col("l_orderkey") % 3600) / lit(10.0) - lit(180.0)).as("Longitude"),
      col("l_quantity").as("Data"))

  private val geoPointsSql =
    """SELECT (l_partkey % 1800) / CAST(10 AS DOUBLE) - 90 AS lat,
      |       (l_orderkey % 3600) / CAST(10 AS DOUBLE) - 180 AS lon,
      |       l_quantity AS data
      |FROM lineitem""".stripMargin

  /** Geo-grid oracle SQL mirroring GeoAggregate's closed-form binning;
    * step = 2.5°, value scale ÷10 (`agg.py:145`).
    */
  private def geoAggSql(aggFn: String): String =
    s"""WITH pts AS ($geoPointsSql),
       |b AS (SELECT CAST(floor((lat + 90) / 2.5e0) AS BIGINT) AS lat_bin,
       |             CAST(floor((lon + 180) / 2.5e0) AS BIGINT) AS lon_bin,
       |             data / CAST(10 AS DOUBLE) AS jds
       |      FROM pts)
       |SELECT $aggFn(jds) AS "Data",
       |       lat_bin * 2.5e0 + (-90) + 1.25e0 AS "Latitude",
       |       lon_bin * 2.5e0 + (-180) + 1.25e0 AS "Longitude"
       |FROM b GROUP BY lat_bin, lon_bin""".stripMargin

  /** DuckDB token expressions matching graft.functions.tokens (trim, split
    * on \s+, drop empties).
    */
  private val toksSql =
    """list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)"""

  /** q309/q310's blocklist fixture: all border-free (no phrase has a
    * proper prefix = suffix), so the Aho–Corasick overlapping count
    * equals the replace-based non-overlapping count and both tiers
    * share one oracle. "quantum leap" never occurs — the census must
    * still report its zero row.
    */
  private val blocklistPhrases = Seq(
    "big table", "slow scan", "fast merge", "key value", "quantum leap")

  /** Shared q309/q310 oracle: replace-difference counts per phrase over
    * the lowercased text, zero-hit phrases kept by the CROSS JOIN shape.
    */
  private val blocklistOracleSql = {
    val lst = blocklistPhrases.map(p => s"'$p'").mkString(", ")
    s"""WITH p AS (SELECT unnest([$lst]) AS phrase),
       |d AS (SELECT lower(text) AS t FROM documents WHERE text IS NOT NULL),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
       |h AS (SELECT phrase, CAST((len(t) - len(replace(t, phrase, '')))
       |    // len(phrase) AS BIGINT) AS hits
       |  FROM d CROSS JOIN p)
       |SELECT phrase,
       |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_hit,
       |  CAST(sum(hits) AS BIGINT) AS total_hits,
       |  1000000 * CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) // n.n_docs AS docs_hit_ppm
       |FROM h CROSS JOIN n GROUP BY phrase, n.n_docs""".stripMargin
  }

  /** q311's oracle: integer k-means with every Lloyd round unrolled as
    * CTEs (the q300 perceptron discipline). Exact-integer throughout —
    * micro-unit quantize, integer squared-L2, truncating mean via
    * sign(s)·(|s| // n) (trunc ≡ floor on |s|, so DuckDB's // and
    * Spark's DIV agree on negative sums), ties to the lowest cluster,
    * emptied clusters keep their previous centroid (the coalesce).
    */
  private def integerKMeansOracleSql(k: Int, rounds: Int,
                                     dims: Int): String = {
    val dist = s"CAST(list_sum(list_transform(range(1, ${dims + 1}), " +
      "i -> (q[i] - c[i]) * (q[i] - c[i]))) AS BIGINT)"
    val head = Seq(
      "v AS (SELECT vec_id, list_transform(embedding::DOUBLE[], " +
        "x -> CAST(round(x * 1000000) AS BIGINT)) AS q FROM embeddings)",
      "c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 " +
        s"AS INTEGER) AS cl, q AS c FROM v ORDER BY vec_id LIMIT $k)",
      s"d AS (SELECT unnest(range(1, ${dims + 1})) AS i)")
    val roundCtes = (1 to rounds).flatMap { r => Seq(
      s"a$r AS (SELECT vec_id, q, cl FROM (SELECT v.vec_id, v.q, c.cl, " +
        s"row_number() OVER (PARTITION BY v.vec_id ORDER BY $dist, c.cl) " +
        s"AS rn FROM v CROSS JOIN c${r - 1} c) t WHERE rn = 1)",
      s"s$r AS (SELECT cl, i, CAST(sum(q[i]) AS BIGINT) AS s, " +
        s"CAST(count(*) AS BIGINT) AS n FROM a$r CROSS JOIN d " +
        "GROUP BY cl, i)",
      s"u$r AS (SELECT cl, list(CAST(sign(s) AS BIGINT) * (abs(s) // n) " +
        s"ORDER BY i) AS c FROM s$r GROUP BY cl)",
      s"c$r AS (SELECT p.cl, coalesce(u$r.c, p.c) AS c FROM c${r - 1} p " +
        s"LEFT JOIN u$r USING (cl))")
    }
    val fin = "af AS (SELECT vec_id, cl, dist FROM (SELECT v.vec_id, " +
      s"c.cl, $dist AS dist, row_number() OVER (PARTITION BY v.vec_id " +
      s"ORDER BY $dist, c.cl) AS rn FROM v CROSS JOIN c$rounds c) t " +
      "WHERE rn = 1)"
    "WITH " + (head ++ roundCtes :+ fin).mkString(",\n") + "\n" +
      s"""SELECT af.cl AS cluster, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_id,
         |  CAST(sum(dist) AS BIGINT) AS inertia,
         |  CAST(max(list_sum(c.c)) AS BIGINT) AS centroid_sum
         |FROM af JOIN c$rounds c USING (cl) GROUP BY af.cl""".stripMargin
  }

  /** q313's oracle: every greedy k-center round unrolled — round r takes
    * the pool-wide argmax (md DESC, vec_id) of the min distance to the
    * selected set sel_{r-1}, then folds the pick in. Same micro-unit
    * integer distance as q311, so both engines agree bit-for-bit.
    */
  private def kCenterOracleSql(k: Int, poolPercent: Int,
                               dims: Int): String = {
    val dist = s"CAST(list_sum(list_transform(range(1, ${dims + 1}), " +
      "i -> (p.q[i] - s.q[i]) * (p.q[i] - s.q[i]))) AS BIGINT)"
    val head = Seq(
      "pool AS (SELECT vec_id, list_transform(embedding::DOUBLE[], " +
        "x -> CAST(round(x * 1000000) AS BIGINT)) AS q FROM embeddings " +
        s"WHERE ${hash31Sql("CAST(vec_id AS VARCHAR)")} % 100 " +
        s"< $poolPercent)",
      "sel1 AS (SELECT vec_id, q FROM pool " +
        "WHERE vec_id = (SELECT min(vec_id) FROM pool))")
    val rounds = (2 to k).flatMap { r => Seq(
      s"m$r AS (SELECT p.vec_id, min($dist) AS md FROM pool p " +
        s"CROSS JOIN sel${r - 1} s WHERE p.vec_id NOT IN " +
        s"(SELECT vec_id FROM sel${r - 1}) GROUP BY p.vec_id)",
      s"pick$r AS (SELECT m.vec_id, pool.q, m.md FROM m$r m " +
        "JOIN pool ON pool.vec_id = m.vec_id " +
        "ORDER BY m.md DESC, m.vec_id LIMIT 1)",
      s"sel$r AS (SELECT vec_id, q FROM sel${r - 1} " +
        s"UNION ALL SELECT vec_id, q FROM pick$r)")
    }
    val picks = (2 to k).map(r =>
      s"SELECT $r AS selection_rank, vec_id, md AS min_dist_sq " +
        s"FROM pick$r").mkString(" UNION ALL ")
    "WITH " + (head ++ rounds).mkString(",\n") + "\n" +
      "SELECT 1 AS selection_rank, vec_id, CAST(0 AS BIGINT) " +
      "AS min_dist_sq FROM sel1" +
      (if (k > 1) " UNION ALL " + picks else "")
  }

  /** q135's injected boilerplate: 9 tokens = exactly three 3-token chunks,
    * one constant shared by the Spark query and the oracle.
    */
  private val boilerplateHeader =
    "free newsletter subscribe now click here unsubscribe anytime today"

  /** 3-token non-overlapping chunk CTE chain over a `docs`-shaped relation
    * (doc_id, text) — the q95 chunking oracle specialized to size = stride
    * = 3, shared by q134/q135/q145. Emits `ch$sfx(doc_id, chunk_idx,
    * chunk_text)`; pass a suffix when the chain appears twice in one query.
    */
  private def chunk3CtesSql(source: String, sfx: String = ""): String =
    s"""t$sfx AS (SELECT doc_id, $toksSql AS tk FROM $source),
       |n$sfx AS (SELECT doc_id, tk, len(tk) AS n FROM t$sfx),
       |c$sfx AS (SELECT doc_id, tk,
       |    CASE WHEN n = 0 THEN []::BIGINT[]
       |         ELSE range(0, 1 + CASE WHEN n > 3 THEN (n - 3 + 2) // 3 ELSE 0 END)
       |    END AS idxs
       |  FROM n$sfx),
       |e$sfx AS (SELECT doc_id, tk, unnest(idxs) AS chunk_idx FROM c$sfx),
       |ch$sfx AS (SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       |    array_to_string(list_slice(tk, chunk_idx * 3 + 1, chunk_idx * 3 + 3), ' ')
       |      AS chunk_text
       |  FROM e$sfx)""".stripMargin

  /** Bbox dimension rendered as a SQL VALUES list from the same Scala data
    * AddCountry uses — one source of truth for both engines.
    */
  private val boxesValuesSql = AddCountry.defaultBoxes
    .map(b => s"('${b.country}', ${b.lat_min}, ${b.lat_max}, ${b.lon_min}, ${b.lon_max})")
    .mkString(",\n  ")

  private def T(s: SparkSession, d: String, name: String): DataFrame =
    Tables(s, d, name)

  /** Stable per-sf-dir tag for the /tmp table/index locations of the
    * persisted-lifecycle queries (q76/q77/q101/q105): the build/probe (and
    * wipe/write) sites of one query must key to the SAME location for a
    * given input dir, and different sf dirs must never collide.
    */
  private def tagFor(d: String): String = java.lang.Long.toHexString(
    java.util.UUID.nameUUIDFromBytes(d.getBytes).getMostSignificantBits)

  /** Session-cached near-dup pair + cluster relations over the FULL
    * documents corpus at the suite's standard LSH parameters — the one
    * relation ~10 queries (q38/q160/q196/q197/q205/q211/q220) previously
    * re-derived from scratch. First caller pays one LSH + CC run and two
    * parquet writes; everyone after reads the stored relations
    * ([[graft.ops.Dedup.ensurePairClusters]] — bit-identical by the
    * portable-hash/CC determinism, DedupSpec-pinned). Returns the cache
    * path for [[graft.ops.Dedup.cachedPairs]]/`cachedClusters`.
    */
  private def docClustersPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_clusters/docs_${tagFor(d)}"
    // fingerprint over exactly the columns the pair pipeline consumes:
    // a fresh process reuses the warm parquet relation iff the corpus is
    // byte-identical, else rebuilds (the LSH+CC run is the most
    // expensive stage every consumer shares)
    Dedup.ensurePairClusters(s, path, "doc_id",
      fingerprint = Some(Dedup.corpusFingerprint(
        T(s, d, "documents"), Seq("doc_id", "text"))),
      paramsTag = "minhash shingleK=2 numPerm=64 bands=16 thr=0.8")(
      Dedup.minhashNearDupPairs(T(s, d, "documents"), "doc_id", "text",
        shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8))
    path
  }

  /** Session-cached mutual-kNN (k=5) pair + cluster relations over the
    * embeddings corpus, exact blocked tier — shared by the census (q201)
    * and the clustering-eval trio (q221/q222/q223), which previously each
    * re-ran the all-pairs graph.
    */
  private def knnClustersPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_clusters/knn_${tagFor(d)}"
    Dedup.ensurePairClusters(s, path, "vec_id",
      fingerprint = Some(Dedup.corpusFingerprint(
        T(s, d, "embeddings"), Seq("vec_id", "embedding"))),
      paramsTag = "mutualKnn k=5 exact")(
      Similarity.mutualKnnPairs(T(s, d, "embeddings"), k = 5))
    path
  }

  /** The IVF tier of [[knnClustersPath]] (q210's discipline: every cell
    * probed ⇒ complete candidates ⇒ tier-equivalent graph) — shared by
    * the IVF census (q210) and the IVF clustering-eval trio
    * (q224/q225/q226).
    */
  private def knnIvfClustersPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_clusters/knnivf_${tagFor(d)}"
    Dedup.ensurePairClusters(s, path, "vec_id",
      fingerprint = Some(Dedup.corpusFingerprint(
        T(s, d, "embeddings"), Seq("vec_id", "embedding"))),
      paramsTag = "mutualKnnIvf k=5 nProbe=64 cells=vec_id%97") {
      val emb = T(s, d, "embeddings")
      val centroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      Similarity.mutualKnnPairsIvf(emb, centroids, k = 5, nProbe = 64)
    }
    path
  }

  // ---------------------------------------------- oracle SQL helper pieces

  /** Shared by q14 (broadcast bbox tier) and q69 (grid equi-join tier) —
    * both containment-join strategies must produce identical enrichment.
    */
  private lazy val addCountryOracleSql =
    s"""WITH boxes(country, lat_min, lat_max, lon_min, lon_max) AS (VALUES
       |  $boxesValuesSql),
       |pts AS (SELECT c_custkey,
       |  (c_custkey % 1800) / CAST(10 AS DOUBLE) - 90 AS "Latitude",
       |  (c_custkey * 7 % 3600) / CAST(10 AS DOUBLE) - 180 AS "Longitude"
       |  FROM customer)
       |SELECT c_custkey, "Latitude", "Longitude",
       |  coalesce(country, 'No country') AS "Country"
       |FROM pts LEFT JOIN boxes
       |  ON "Latitude" >= lat_min AND "Latitude" < lat_max
       | AND "Longitude" >= lon_min AND "Longitude" < lon_max""".stripMargin

  /** DuckDB side of `graft.functions.md5Hash31` / `md5Hash60` — the
    * engines' md5 hex strings are identical, so parsing the same prefix
    * yields the same integer.
    */
  private def hash31Sql(e: String): String =
    s"('0x' || substring(md5($e), 1, 8))::BIGINT % 2147483647"
  private def hash60Sql(e: String): String =
    s"('0x' || substring(md5($e), 1, 15))::BIGINT"

  /** DuckDB replay of [[graft.ops.Multimodal.imageAHash]] over the
    * synthetic pattern (Multimodal.synthChannel + integer 8×8 resample +
    * integer grayscale + exact mean threshold, two 32-bit lanes) —
    * shared by q273 and q274 so the two oracles cannot drift. `from` is
    * the id source relation (may carry a WHERE); yields CTE `ah` with
    * (id, w, h, ahash_hi, ahash_lo).
    */
  private def ahashCtesSql(idExpr: String, from: String): String =
    s"""am AS (SELECT $idExpr AS id,
       |    CAST($idExpr % 13 + 4 AS INTEGER) AS w,
       |    CAST($idExpr % 11 + 4 AS INTEGER) AS h
       |  FROM $from),
       |agx AS (SELECT am.*, unnest(range(8)) AS tx FROM am),
       |apx AS (SELECT agx.*, unnest(range(8)) AS ty FROM agx),
       |ac AS (SELECT id, w, h, tx, ty,
       |    (tx * w) // 8 AS sx, (ty * h) // 8 AS sy
       |  FROM apx),
       |ag AS (SELECT id, w, h, ty * 8 + tx AS p,
       |    (((id * 7 + sx * 31 + sy * 17) % 256)
       |     + ((id * 3 + sx * 13 + sy * 29) % 256)
       |     + ((id * 11 + sx * 23 + sy * 19) % 256)) // 3 AS gr
       |  FROM ac),
       |asum AS (SELECT id, w, h, p, gr,
       |    sum(gr) OVER (PARTITION BY id) AS sg
       |  FROM ag),
       |ah AS (SELECT id, w, h,
       |    CAST(sum(CASE WHEN p >= 32 AND gr * 64 >= sg
       |      THEN (CAST(1 AS BIGINT) << (p - 32)) ELSE 0 END) AS BIGINT)
       |      AS ahash_hi,
       |    CAST(sum(CASE WHEN p < 32 AND gr * 64 >= sg
       |      THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT)
       |      AS ahash_lo
       |  FROM asum GROUP BY id, w, h)""".stripMargin

  /** The 8-point quantized DCT-II basis as SQL VALUES rows — rendered
    * from [[graft.ops.Multimodal.dctBasisQ]] (the SINGLE hardcoded
    * table), so the JVM tier and the oracle can never disagree on a
    * cosine micro-unit.
    */
  private lazy val cosqValuesSql: String =
    (for { u <- 0 until 8; x <- 0 until 8 }
      yield s"($u, $x, ${graft.ops.Multimodal.dctBasisQ(u)(x)})")
      .mkString(", ")

  /** DuckDB replay of [[graft.ops.Multimodal.imagePHash]] over the
    * synthetic pattern: 8×8 integer grid (same resample/grayscale as
    * the aHash CTE) → exact integer 2-D DCT-II against the hardcoded
    * cosine table → strict lower-median threshold over the 63 AC
    * coefficients (row 32 of the per-id coef order — the value at a
    * sorted position is tie-order-stable). Yields CTE `ph` with
    * (id, w, h, phash_hi, phash_lo); shared by q314 and q315 so the
    * two oracles cannot drift.
    */
  private def phashCtesSql(idExpr: String, from: String): String =
    s"""pm AS (SELECT $idExpr AS id,
       |    CAST($idExpr % 13 + 4 AS INTEGER) AS w,
       |    CAST($idExpr % 11 + 4 AS INTEGER) AS h
       |  FROM $from),
       |pgx AS (SELECT pm.*, unnest(range(8)) AS tx FROM pm),
       |ppx AS (SELECT pgx.*, unnest(range(8)) AS ty FROM pgx),
       |pcc AS (SELECT id, w, h, tx, ty,
       |    (tx * w) // 8 AS sx, (ty * h) // 8 AS sy
       |  FROM ppx),
       |pg AS (SELECT id, w, h, tx, ty,
       |    (((id * 7 + sx * 31 + sy * 17) % 256)
       |     + ((id * 3 + sx * 13 + sy * 29) % 256)
       |     + ((id * 11 + sx * 23 + sy * 19) % 256)) // 3 AS gr
       |  FROM pcc),
       |cosq(u, x, c) AS (VALUES $cosqValuesSql),
       |pdct AS (SELECT pg.id, pg.w, pg.h, cu.u AS u, cv.u AS v,
       |    CAST(sum(pg.gr * cu.c * cv.c) AS BIGINT) AS coef
       |  FROM pg JOIN cosq cu ON cu.x = pg.tx
       |    JOIN cosq cv ON cv.x = pg.ty
       |  GROUP BY pg.id, pg.w, pg.h, cu.u, cv.u),
       |pmed AS (SELECT id, coef AS med FROM (
       |    SELECT id, coef, row_number() OVER (
       |      PARTITION BY id ORDER BY coef) AS rn
       |    FROM pdct WHERE NOT (u = 0 AND v = 0)) s
       |  WHERE rn = 32),
       |ph AS (SELECT d.id, d.w, d.h,
       |    CAST(sum(CASE WHEN v * 8 + u >= 32 AND d.coef > m.med
       |      THEN (CAST(1 AS BIGINT) << (v * 8 + u - 32)) ELSE 0 END)
       |      AS BIGINT) AS phash_hi,
       |    CAST(sum(CASE WHEN v * 8 + u >= 1 AND v * 8 + u < 32
       |        AND d.coef > m.med
       |      THEN (CAST(1 AS BIGINT) << (v * 8 + u)) ELSE 0 END)
       |      AS BIGINT) AS phash_lo
       |  FROM pdct d JOIN pmed m ON d.id = m.id
       |  GROUP BY d.id, d.w, d.h)""".stripMargin

  /** Synthetic crawl-URL fixture for q318/q319: five deterministic
    * variants per doc (case + default port / trailing slash / tracking
    * params / param order + fragment / non-default port) over a shared
    * path space, so canonicalization provably collapses the first four
    * and keeps the fifth distinct. Plain string concatenation — the
    * oracle builds the identical strings.
    */
  private def urlFixture(s: SparkSession, d: String): DataFrame = {
    val p = (col("doc_id") % 7).cast("string")
    val url = when(col("doc_id") % 8 === 0,
        concat(lit("HTTPS://WWW.Example.COM:443/docs/"), p))
      .when(col("doc_id") % 8 === 1,
        concat(lit("https://www.example.com/docs/"), p, lit("/")))
      .when(col("doc_id") % 8 === 2,
        concat(lit("https://www.example.com/docs/"), p,
          lit("?utm_source=feed&gclid=z")))
      .when(col("doc_id") % 8 === 3,
        concat(lit("https://www.example.com/docs/"), p, lit("?b=2&a=1#top")))
      .when(col("doc_id") % 8 === 4,
        // unreserved percent-escapes (%64='d' in the path, %31='1' in a
        // param value) — must merge with the bare-spelled variant-3
        // group after decode + param sort
        concat(lit("https://www.example.com/%64ocs/"), p,
          lit("?a=%31&b=2")))
      .when(col("doc_id") % 8 === 5,
        concat(lit("http://www.example.com:8080/docs/"), p,
          lit("?a=1&b=2")))
      .when(col("doc_id") % 8 === 6,
        // dot-segment twin: /x/../docs/./<p> must resolve to /docs/<p>
        // and merge with the variant-3/4 group
        concat(lit("https://www.example.com/x/../docs/./"), p,
          lit("?b=2&a=1")))
      .otherwise(
        // IDN twins: the unicode spelling and the (case-mangled)
        // punycode spelling must canonicalize to ONE key
        when(col("doc_id") % 16 === 7,
          concat(lit("https://bücher.example/docs/"), p))
          .otherwise(
            concat(lit("https://XN--BCHER-KVA.Example/docs/"), p)))
    T(s, d, "documents").select(col("doc_id"), url.as("url"))
  }

  /** Synthetic crawl-page fixture for q325: every document's text
    * wrapped in a deterministic page skeleton — link-only nav, a short
    * heading (under the min-chars cut), the body paragraph, a
    * link-only related-articles div, and a mixed footer whose 45 chars
    * of visible text carry 16 chars of anchor text (3·16 = 48 > 45 —
    * the link-density boundary case, dropped). Attribute values are
    * unquoted so the SQL twin needs no quote escaping.
    */
  private def htmlFixture(s: SparkSession, d: String): DataFrame = {
    val html = concat(
      lit("<html><body><nav><a href=/>Home</a> <a href=/about>About</a>" +
        " <a href=/contact>Contact</a></nav><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"), col("text"),
      lit("</p><div><a href=/l1>Related article one</a> " +
        "<a href=/l2>Related article two</a></div>" +
        "<footer>Copyright 2026 Example Corp " +
        "<a href=/tos>Terms of Service</a></footer></body></html>"))
    T(s, d, "documents").select(col("doc_id"), html.as("html"))
  }

  /** The q318/q319 fixture + canonicalization as DuckDB CTEs — yields
    * `uc(doc_id, url, canonical_url, site)`, the exact RE2 mirror of
    * [[graft.ops.Web.canonicalizeUrl]]'s rule set.
    */
  private lazy val urlCanonCtesSql: String =
    s"""uf AS (SELECT doc_id,
      |    CASE doc_id % 8
      |      WHEN 0 THEN concat('HTTPS://WWW.Example.COM:443/docs/',
      |        CAST(doc_id % 7 AS VARCHAR))
      |      WHEN 1 THEN concat('https://www.example.com/docs/',
      |        CAST(doc_id % 7 AS VARCHAR), '/')
      |      WHEN 2 THEN concat('https://www.example.com/docs/',
      |        CAST(doc_id % 7 AS VARCHAR), '?utm_source=feed&gclid=z')
      |      WHEN 3 THEN concat('https://www.example.com/docs/',
      |        CAST(doc_id % 7 AS VARCHAR), '?b=2&a=1#top')
      |      WHEN 4 THEN concat('https://www.example.com/%64ocs/',
      |        CAST(doc_id % 7 AS VARCHAR), '?a=%31&b=2')
      |      WHEN 5 THEN concat('http://www.example.com:8080/docs/',
      |        CAST(doc_id % 7 AS VARCHAR), '?a=1&b=2')
      |      WHEN 6 THEN concat('https://www.example.com/x/../docs/./',
      |        CAST(doc_id % 7 AS VARCHAR), '?b=2&a=1')
      |      ELSE CASE WHEN doc_id % 16 = 7
      |        THEN concat('https://bücher.example/docs/',
      |          CAST(doc_id % 7 AS VARCHAR))
      |        ELSE concat('https://XN--BCHER-KVA.Example/docs/',
      |          CAST(doc_id % 7 AS VARCHAR)) END
      |    END AS url FROM documents),
      |ud AS (SELECT doc_id, url,
      |    ${graft.ops.Web.percentDecodeUnreservedSql("url")} AS durl
      |  FROM uf),
      |up AS (SELECT doc_id, url,
      |    lower(regexp_extract(durl, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      AS scheme,
      |    regexp_extract(durl, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
      |      AS auth,
      |    regexp_replace(${graft.ops.Web.resolveDotSegmentsSql(
             "regexp_extract(durl, " +
               "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)")},
      |      '/+$$', '') AS cpath,
      |    regexp_extract(durl, '\\?([^#]*)', 1) AS query FROM ud),
      |uq AS (SELECT doc_id, url, scheme,
      |    -- punycode: DuckDB has no IDN codec, so the oracle pins the
      |    -- fixture's ONE unicode host to its known RFC 3492 encoding;
      |    -- the Spark side computes it through the real codec, so a
      |    -- wrong encoding fails this compare
      |    replace(lower(regexp_extract(auth, '^([^:]*)', 1)),
      |      'bücher.example', 'xn--bcher-kva.example') AS host,
      |    regexp_extract(auth, ':([0-9]+)$$', 1) AS port, cpath,
      |    array_to_string(list_sort(list_filter(string_split(query, '&'),
      |      p -> len(p) > 0 AND NOT starts_with(p, 'utm_')
      |        AND NOT starts_with(p, 'gclid=')
      |        AND NOT starts_with(p, 'fbclid=')
      |        AND NOT starts_with(p, 'msclkid=')
      |        AND NOT starts_with(p, 'ref='))), '&') AS q FROM up),
      |uc AS (SELECT doc_id, url,
      |    concat(scheme, '://', host,
      |      CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
      |          AND NOT (scheme = 'https' AND port = '443')
      |        THEN concat(':', port) ELSE '' END,
      |      cpath,
      |      CASE WHEN q <> '' THEN concat('?', q) ELSE '' END)
      |      AS canonical_url,
      |    regexp_replace(host, '^www\\.', '') AS site
      |  FROM uq)""".stripMargin

  /** DuckDB mirror of `TextAnalysis.cleanText` — shared by q87 and the
    * q100 pipeline capstone.
    */
  private lazy val cleanTextSql: String =
    """trim(regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(text, '<[^>]+>', ' ', 'g'),
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
      |      'https?://[^ \t\n]+', '<url>', 'g'),
      |    '[ \t\n\f\r]+', ' ', 'g'))""".stripMargin

  /** Winnowing-fingerprint CTE chain over `documents` (k-token shingles,
    * hash window w, portable md5 hash) — mirrors
    * `TextAnalysis.winnowFingerprints(text, k, w, md5Hash31)`. Shared by
    * q54 (fingerprint dump, k=3 w=4) and q85 (contamination semi-join,
    * k=5 w=8).
    */
  private def winnowFpCtesSql(k: Int, w: Int): String = {
    val shingle = (0 until k)
      .map(j => if (j == 0) "t[i]" else s"t[i + $j]").mkString(" || ' ' || ")
    s"""toks AS (SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS t
       |  FROM documents),
       |hs AS (SELECT doc_id, CASE WHEN len(t) < $k THEN []::BIGINT[]
       |    ELSE list_transform(range(1, len(t) - ${k - 2}),
       |           i -> ${hash31Sql(shingle)}) END AS h
       |  FROM toks),
       |fp AS (SELECT doc_id, CASE WHEN len(h) = 0 THEN []::BIGINT[]
       |    WHEN len(h) <= $w THEN [list_min(h)]
       |    ELSE list_distinct(list_transform(range(1, len(h) - ${w - 2}),
       |           i -> list_min(list_slice(h, i, i + ${w - 1})))) END AS fps
       |  FROM hs)""".stripMargin
  }

  /** DuckDB cosine over two DOUBLE[] exprs, exactly mirroring
    * `cosineSimilarity` (in-order product sum; proven bit-equal by q22/q23).
    */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))
       |    / (sqrt(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i])))
       |       * sqrt(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i]))))""".stripMargin

  /** Shared by q23 (broadcast-probe tier) and q75 (blocked tier) — both
    * batch-1-NN strategies must produce identical neighbors and sims.
    */
  private lazy val knnOracleSql =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |scored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> c.e[i] * p.e[i]))
       |    / (sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i] * c.e[i])))
       |       * sqrt(list_sum(list_transform(range(1, 65), i -> p.e[i] * p.e[i])))) AS sim
       |  FROM v p JOIN v c ON c.vec_id <> p.vec_id
       |  WHERE p.vec_id < 20)
       |SELECT probe_id, neighbor_id, sim
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |        ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
       |WHERE rn = 1""".stripMargin

  /** Shared by q60 (inline corpus signatures) and q76 (persisted bucketed
    * signature index) — both incremental near-dup strategies must keep the
    * same batch rows. The zero-union guard mirrors the Spark side's
    * unionSize==0 → 0.0 (DuckDB IEEE 0/0 = NaN, and NaN >= τ is TRUE).
    */
  private lazy val incrementalNearDupOracleSql =
    s"""WITH ${shingleCtesSql(2)},
       |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id < 250),
       |batch AS (SELECT doc_id, s FROM sh WHERE doc_id >= 250),
       |dup AS (SELECT DISTINCT b.doc_id FROM batch b JOIN corpus c ON
       |  len(b.s) + len(c.s) > 0 AND
       |  CAST(len(list_filter(b.s, x -> list_contains(c.s, x))) AS DOUBLE)
       |    / (len(b.s) + len(c.s) - len(list_filter(b.s, x -> list_contains(c.s, x))))
       |    >= 0.8)
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin

  /** Shared by q85 (inline corpus fingerprints) and q101 (persisted
    * fp-bucketed fingerprint index) — both contamination-check tiers must
    * flag exactly the same batch documents.
    */
  private lazy val contaminationOracleSql =
    s"""WITH ${winnowFpCtesSql(5, 8)},
       |pairs AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
       |corpus_fp AS (SELECT DISTINCT fp FROM pairs WHERE doc_id < 400),
       |hits AS (SELECT DISTINCT doc_id FROM pairs
       |         WHERE doc_id >= 400 AND fp IN (SELECT fp FROM corpus_fp))
       |SELECT doc_id,
       |  CASE WHEN doc_id IN (SELECT doc_id FROM hits) THEN 1 ELSE 0 END
       |    AS contaminated
       |FROM documents WHERE doc_id >= 400""".stripMargin

  /** Shared by q37 (inline assignment) and q77 (persisted partitioned
    * index) — both IVF strategies must return identical neighbors.
    */
  /** The IVF probe CTE chain (assignments + probed cells for query 1,
    * nProbe 2) without the final select — shared by q37/q77's ranking
    * and q267's recall report.
    */
  private lazy val ivfCtesSql =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |cent AS (SELECT CAST(vec_id // 97 AS INTEGER) AS cell_id, e AS c
       |  FROM v WHERE vec_id % 97 = 0),
       |scored AS (SELECT v.vec_id, cent.cell_id,
       |    round(${cosSql("v.e", "cent.c")}, 6) AS sim
       |  FROM v CROSS JOIN cent),
       |assign AS (SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
       |    FROM scored) WHERE rn = 1),
       |q AS (SELECT e AS qe FROM v WHERE vec_id = 1),
       |qc AS (SELECT cell_id FROM cent, q
       |  ORDER BY round(${cosSql("c", "qe")}, 6) DESC, cell_id LIMIT 2)"""
      .stripMargin

  private lazy val ivfOracleSql =
    s"""WITH $ivfCtesSql
       |SELECT v.vec_id,
       |  ${cosSql("v.e", "qe")} AS sim
       |FROM v JOIN assign USING (vec_id) JOIN qc USING (cell_id), q
       |WHERE v.vec_id <> 1
       |ORDER BY sim DESC, v.vec_id LIMIT 10""".stripMargin

  /** DuckDB replay of q300's batch-perceptron training: the same integer
    * features, and per round the same misclassified-set aggregate under
    * the PREVIOUS round's weights — all int64, so the weight trajectory
    * matches bit-for-bit (the reason q300 is a perceptron and not
    * logistic GD). One CTE pair (errors/deltas, updated weights) per
    * round, carried forward by CROSS JOINs of 1-row frames.
    */
  private def perceptronOracleSql(rounds: Int): String = {
    val chain = new StringBuilder
    chain.append(
      s"""f AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
         |    1::BIGINT AS x0,
         |    CAST(len($toksSql) AS BIGINT) AS x1,
         |    n_chars AS x2,
         |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
         |      AS BIGINT) AS x3,
         |    CAST(length(text) -
         |      length(regexp_replace(lower(text), '[aeiou]', '', 'g'))
         |      AS BIGINT) AS x4
         |  FROM documents),
         |w0 AS (SELECT 0::BIGINT AS w0, 0::BIGINT AS w1, 0::BIGINT AS w2,
         |  0::BIGINT AS w3, 0::BIGINT AS w4)""".stripMargin)
    for (r <- 1 to rounds) {
      chain.append(",\n")
      chain.append(
        s"""e$r AS (SELECT CAST(count(*) AS BIGINT) AS ne,
           |    ${(0 to 4).map(i =>
                  s"CAST(coalesce(sum(y * x$i), 0) AS BIGINT) AS d$i")
                  .mkString(",\n           |    ")}
           |  FROM f CROSS JOIN w${r - 1}
           |  WHERE y * (${(0 to 4).map(i => s"w$i * x$i").mkString(" + ")}) <= 0),
           |w$r AS (SELECT ${(0 to 4).map(i => s"w$i + d$i AS w$i")
                  .mkString(", ")}
           |  FROM w${r - 1} CROSS JOIN e$r)""".stripMargin)
    }
    val union = (1 to rounds)
      .map(r => s"SELECT $r AS round, ne AS n_errors, " +
        (0 to 4).map(i => s"w$i AS w_$i").mkString(", ") +
        s" FROM e$r CROSS JOIN w$r")
      .mkString("\nUNION ALL ")
    s"WITH ${chain.toString}\n$union"
  }

  /** Same MinHash permutation params as the Spark side, as a VALUES list —
    * one source of truth for both engines (a, b < 2^31 so a·h+b stays in
    * BIGINT range in DuckDB exactly as in the native expression).
    */
  private val minhashParamsSql = Dedup.permutationParams(32).zipWithIndex
    .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(",\n  ")

  /** Same seeded SRP hyperplanes as `Similarity.srpBucket`, as a VALUES
    * list. Scala's Double.toString is shortest-round-trip, so the DuckDB
    * DOUBLE cast recovers bit-identical planes.
    */
  private def planesValuesSql(dim: Int, numPlanes: Int, seed: Long = 42L): String =
    Similarity.srpPlanes(dim, numPlanes, seed).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(",")}]::DOUBLE[])" }
      .mkString(",\n  ")

  /** Same seeded orthonormal rotation as `Similarity.randomRotation`, as a
    * VALUES list (row i = output dimension i) — the planesValuesSql
    * pattern; Double.toString round-trips bit-identically.
    */
  private def rotationValuesSql(dim: Int, seed: Long = 42L): String =
    Similarity.randomRotation(dim, seed).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(",")}]::DOUBLE[])" }
      .mkString(",\n  ")

  /** Distinct word-k-shingle CTEs over `documents` (toks → shingle sets),
    * mirroring `wordShingles`: k-grams of whitespace tokens joined by ' '.
    */
  private def shingleCtesSql(k: Int): String =
    s"""toks AS (SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS t
       |  FROM documents),
       |sh AS (SELECT doc_id, CASE WHEN len(t) < $k THEN []::VARCHAR[]
       |    ELSE list_distinct(list_transform(range(1, len(t) - ${k - 2}),
       |           i -> ${(0 until k).map(j => s"t[i + $j]").mkString(" || ' ' || ")})) END AS s
       |  FROM toks)""".stripMargin

  /** CTE chain for all-pairs exact jaccard over k-shingle sets with
    * threshold (final CTE: `jp(id_a, id_b, jaccard_sim)`) — the oracle twin
    * of the LSH pipeline (q33/q38). Safe as an exact oracle on this corpus:
    * every true near-dup pair is ≥0.9 and nothing else is above 0.3, and
    * LSH recall at s≥0.8 (r=4, b=16; miss ≤ 4e-8 at s=0.9) is 1 on the data.
    */
  private def jaccardPairCtesSql(k: Int, threshold: Double): String =
    s"""${shingleCtesSql(k)},
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_filter(a.s, x -> list_contains(b.s, x))) AS ninter,
       |    len(a.s) AS na, len(b.s) AS nb
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |jp AS (SELECT id_a, id_b,
       |    CAST(ninter AS DOUBLE) / (na + nb - ninter) AS jaccard_sim
       |  FROM inter WHERE na + nb > 0 AND
       |    CAST(ninter AS DOUBLE) / (na + nb - ninter) >= $threshold)""".stripMargin

  /** CTE chain mirroring `TextAnalysis.languageIdDf` over documents
    * (final CTE: `lpred(doc_id, lang, lang_pred)`) — shared by q25, q199
    * and q200. Mirrors languageIdScored: distinct lowercase tokens scored
    * against marker lists; argmax with greatest(struct) semantics = on
    * score ties the lexicographically-last language wins, hence the
    * reversed CASE order; zh short-circuits on any CJK char.
    */
  private lazy val langPredCtesSql: String = {
    val marker = TextAnalysis.langMarkers.map { case (lc, ms) =>
      lc -> s"len(list_filter(dtoks, x -> list_contains([${ms.map("'" + _ + "'").mkString(",")}], x)))"
    }
    s"""lscored AS (
       |  SELECT doc_id, lang, text,
       |    ${marker("de")} AS s_de, ${marker("en")} AS s_en,
       |    ${marker("es")} AS s_es, ${marker("fr")} AS s_fr
       |  FROM (SELECT doc_id, lang, text,
       |          list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS dtoks
       |        FROM documents)),
       |lpred AS (
       |  SELECT doc_id, lang, CASE
       |    WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |    WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       |    WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de THEN 'es'
       |    WHEN s_en > 0 AND s_en >= s_de THEN 'en'
       |    WHEN s_de > 0 THEN 'de'
       |    ELSE 'und' END AS lang_pred
       |  FROM lscored)""".stripMargin
  }

  /** Three-way split CASE from the portable hash — the oracle mirror of
    * `Sampling.threeWaySplit` (shared by q196/q197).
    */
  private def splitCaseSql(keyExpr: String, trainPct: Int,
                           valPct: Int): String =
    s"""CASE WHEN (${hash31Sql(keyExpr)}) % 100 < $trainPct THEN 'train'
       |    WHEN (${hash31Sql(keyExpr)}) % 100 < ${trainPct + valPct}
       |      THEN 'val' ELSE 'test' END""".stripMargin

  /** The mutual-kNN clustering CTE chain through `cl(node, rep)` —
    * shared by the census (q201/q210), purity (q221), and ARI (q222)
    * oracles. `v(vec_id, label, e)` stays available downstream.
    */
  private lazy val mutualKnnClusterCtesSql: String =
    s"""v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
       |  FROM embeddings),
       |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    round(${cosSql("a.e", "b.e")}, 6) AS sim
       |  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
       |rk AS (SELECT src, dst, row_number() OVER (PARTITION BY src
       |    ORDER BY sim DESC, dst) AS rn FROM p),
       |e AS (SELECT src, dst FROM rk WHERE rn <= 5),
       |m AS (SELECT x.src AS ida, x.dst AS idb FROM e x
       |  JOIN e y ON x.src = y.dst AND x.dst = y.src
       |  WHERE x.src < x.dst),
       |e2 AS (SELECT ida AS src, idb AS dst FROM m
       |       UNION ALL SELECT idb, ida FROM m),
       |reach(src, dst) AS (SELECT src, dst FROM e2
       |  UNION SELECT r.src, e.dst FROM reach r JOIN e2 e ON r.dst = e.src),
       |cl AS (SELECT src AS node, least(src, min(dst)) AS rep
       |  FROM reach GROUP BY src)""".stripMargin

  /** Shared by q201 (exact blocked tier) and q210 (IVF tier with every
    * cell probed — complete candidates, hence tier-equivalent census).
    */
  /** Shared by q235 (inline) and q238 (persisted index): the stored codes
    * table is signCodes64's own output, so the two tiers are bit-equal
    * over the same corpus and share this oracle verbatim (the q37/q77
    * tier-equivalence discipline).
    */
  private lazy val binaryQuantOracleSql: String =
    """WITH q0 AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
      |    FROM embeddings WHERE vec_id % 101 = 0),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS ae FROM embeddings),
      |cc AS (SELECT vec_id,
      |    CAST(list_sum(list_transform(range(1, 33), i ->
      |      CASE WHEN ae[i] >= 0 THEN 1::BIGINT << CAST(i - 1 AS INTEGER)
      |           ELSE 0::BIGINT END)) AS BIGINT) AS lo,
      |    CAST(list_sum(list_transform(range(33, 65), i ->
      |      CASE WHEN ae[i] >= 0 THEN 1::BIGINT << CAST(i - 33 AS INTEGER)
      |           ELSE 0::BIGINT END)) AS BIGINT) AS hi
      |  FROM v),
      |qc AS (SELECT qid, lo AS qlo, hi AS qhi
      |  FROM cc JOIN q0 ON cc.vec_id = q0.qid),
      |ham AS (SELECT qid, cc.vec_id,
      |    CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS INTEGER)
      |      AS hamming
      |  FROM cc, qc WHERE cc.vec_id <> qid),
      |short AS (SELECT qid, vec_id, hamming,
      |    row_number() OVER (PARTITION BY qid ORDER BY hamming, vec_id) AS hr
      |  FROM ham),
      |rr AS (SELECT s.qid, s.vec_id, s.hamming,
      |    round(list_sum(list_transform(range(1, 65), i -> ae[i] * qe[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> ae[i] * ae[i])))
      |         * sqrt(list_sum(list_transform(range(1, 65), i -> qe[i] * qe[i])))),
      |      6) AS sim
      |  FROM short s JOIN v ON v.vec_id = s.vec_id JOIN q0 ON q0.qid = s.qid
      |  WHERE s.hr <= 40),
      |rk AS (SELECT qid, vec_id, hamming, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      |  FROM rr)
      |SELECT qid AS query_id, CAST(rnk AS INTEGER) AS rank, vec_id, hamming, sim
      |FROM rk WHERE rnk <= 10""".stripMargin

  private lazy val mutualKnnCensusOracleSql: String =
    s"""WITH RECURSIVE $mutualKnnClusterCtesSql,
       |sz AS (SELECT rep, count(*) AS component_size FROM cl GROUP BY rep)
       |SELECT component_size, count(*) AS n_components FROM sz
       |GROUP BY component_size""".stripMargin

  /** The q155 hybrid-RRF ranking — shared by q155 and the q227 eval over
    * it. The dense top-20 selection orders by the UNROUNDED sim
    * (bit-equal across engines, the q22 contract); ranks inside each leg
    * order by the ROUNDED score (round-before-rank).
    */
  private lazy val hybridRrfOracleSql: String =
    s"""WITH sp AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
       |  FROM ($bm25TopSql)),
       |dtop AS (
       |  SELECT vec_id, round(${cosSql("ae", "qe")}, 6) AS sim,
       |    ${cosSql("ae", "qe")} AS rawsim
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS ae FROM embeddings
       |        WHERE vec_id <> 0),
       |    (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
       |  ORDER BY rawsim DESC, vec_id LIMIT 20),
       |de AS (SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
       |  FROM dtop),
       |u AS (SELECT doc_id, rnk FROM sp UNION ALL SELECT doc_id, rnk FROM de)
       |SELECT doc_id, round(sum(1e0 / (60e0 + rnk)), 9) AS rrf_score,
       |  CAST(count(*) AS INTEGER) AS n_lists
       |FROM u GROUP BY doc_id
       |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin

  /** The q215 retrieval-metrics chain, parametric in the ranking subquery
    * / score column / cutoff — shared by q215 (BM25 top-20, k=10) and
    * q227 (hybrid RRF top-10, k=5). Relevance rule: documents containing
    * 'dup'.
    */
  private def retrievalMetricsOracleSql(rankingSql: String,
                                        scoreCol: String,
                                        k: Int): String =
    s"""WITH ranked AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY $scoreCol DESC, doc_id)
       |      AS BIGINT) AS rank
       |  FROM ($rankingSql)),
       |rel AS (SELECT DISTINCT doc_id FROM documents
       |  WHERE contains(text, 'dup')),
       |hits AS (SELECT rank FROM ranked JOIN rel USING (doc_id)),
       |nrel AS (SELECT CAST(count(*) AS BIGINT) AS nr FROM rel),
       |ag AS (SELECT
       |    coalesce(round(1e0 / min(rank), 6), 0e0) AS mrr,
       |    CAST(coalesce(sum(CASE WHEN rank <= $k THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS hk,
       |    CAST(coalesce(sum(CASE WHEN rank <= $k
       |      THEN CAST(round(1000000000e0 /
       |        (ln(CAST(rank AS DOUBLE) + 1e0) / ln(2e0))) AS BIGINT)
       |      ELSE 0 END), 0) AS BIGINT) AS dg
       |  FROM hits),
       |ig AS (SELECT CAST(sum(CAST(round(1000000000e0 /
       |      (ln(CAST(rank AS DOUBLE) + 1e0) / ln(2e0))) AS BIGINT))
       |    AS BIGINT) AS ig
       |  FROM (SELECT unnest(range(1,
       |    1 + least($k, greatest((SELECT nr FROM nrel), 1)))) AS rank))
       |SELECT (SELECT nr FROM nrel) AS n_relevant, mrr,
       |  round(CAST(hk AS DOUBLE) / $k, 6) AS precision_at_k,
       |  CASE WHEN (SELECT nr FROM nrel) > 0
       |    THEN round(CAST(hk AS DOUBLE) / (SELECT nr FROM nrel), 6)
       |    ELSE 0e0 END AS recall_at_k,
       |  CASE WHEN (SELECT nr FROM nrel) > 0
       |    THEN round(CAST(dg AS DOUBLE) / (SELECT ig FROM ig), 6)
       |    ELSE 0e0 END AS ndcg_at_k
       |FROM ag""".stripMargin

  /** Clustering-eval trio oracles over the mutual-kNN cluster chain —
    * each shared by the exact tier (q221/q222/q223) and the IVF tier
    * (q224/q225/q226): with every cell probed the IVF graph is
    * tier-equivalent (the q201/q210 discipline), so one oracle per
    * metric covers both.
    */
  private lazy val clusterPurityOracleSql: String =
    s"""WITH RECURSIVE $mutualKnnClusterCtesSql,
       |pl AS (SELECT rep, v.label, CAST(count(*) AS BIGINT) AS c
       |  FROM cl JOIN v ON cl.node = v.vec_id GROUP BY rep, v.label),
       |pc AS (SELECT rep, CAST(max(c) AS BIGINT) AS maj,
       |    CAST(sum(c) AS BIGINT) AS tot FROM pl GROUP BY rep)
       |SELECT count(*) AS n_clusters,
       |  CAST(sum(tot) AS BIGINT) AS n_clustered,
       |  round(CAST(sum(maj) AS DOUBLE) / CAST(sum(tot) AS DOUBLE), 6)
       |    AS purity
       |FROM pc""".stripMargin

  private lazy val clusterNmiOracleSql: String =
    s"""WITH RECURSIVE $mutualKnnClusterCtesSql,
       |lab AS (SELECT rep, v.label FROM cl
       |  JOIN v ON cl.node = v.vec_id),
       |nij AS (SELECT rep, label, CAST(count(*) AS BIGINT) AS c
       |  FROM lab GROUP BY rep, label),
       |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM nij),
       |ai AS (SELECT rep, CAST(sum(c) AS BIGINT) AS a FROM nij
       |  GROUP BY rep),
       |bj AS (SELECT label, CAST(sum(c) AS BIGINT) AS b FROM nij
       |  GROUP BY label),
       |hc AS (SELECT CAST(coalesce(sum(CAST(round(((-1e0) *
       |      (CAST(a AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln(CAST(a AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000000e0)
       |    AS BIGINT)), 0) AS BIGINT) AS hc FROM ai CROSS JOIN nn),
       |hl AS (SELECT CAST(coalesce(sum(CAST(round(((-1e0) *
       |      (CAST(b AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln(CAST(b AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000000e0)
       |    AS BIGINT)), 0) AS BIGINT) AS hl FROM bj CROSS JOIN nn),
       |mi AS (SELECT CAST(coalesce(sum(CAST(round((
       |      (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln((CAST(n AS DOUBLE) * CAST(c AS DOUBLE)) /
       |        (CAST(a AS DOUBLE) * CAST(b AS DOUBLE)))) * 1000000000e0)
       |    AS BIGINT)), 0) AS BIGINT) AS mi
       |  FROM nij JOIN ai USING (rep) JOIN bj USING (label)
       |    CROSS JOIN nn)
       |SELECT n AS n_clustered,
       |  CASE WHEN hc + hl > 0
       |    THEN round(CAST(mi AS DOUBLE) /
       |      ((CAST(hc AS DOUBLE) + CAST(hl AS DOUBLE)) / 2e0), 6)
       |    ELSE 0e0 END AS nmi
       |FROM mi CROSS JOIN hc CROSS JOIN hl CROSS JOIN nn""".stripMargin

  private lazy val adjustedRandOracleSql: String =
    s"""WITH RECURSIVE $mutualKnnClusterCtesSql,
       |lab AS (SELECT rep, v.label FROM cl
       |  JOIN v ON cl.node = v.vec_id),
       |nij AS (SELECT rep, label, CAST(count(*) AS BIGINT) AS c
       |  FROM lab GROUP BY rep, label),
       |sij AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS s
       |  FROM nij),
       |sa AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS s FROM
       |  (SELECT CAST(sum(c) AS BIGINT) AS c FROM nij GROUP BY rep)),
       |sb AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS s FROM
       |  (SELECT CAST(sum(c) AS BIGINT) AS c FROM nij GROUP BY label)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lab)
       |SELECT n AS n_clustered,
       |  round((CAST(sij.s AS DOUBLE) -
       |      (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE))
       |        / (CAST(n * (n - 1) // 2 AS DOUBLE))) /
       |    (((CAST(sa.s AS DOUBLE) + CAST(sb.s AS DOUBLE)) / 2e0) -
       |      (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE))
       |        / (CAST(n * (n - 1) // 2 AS DOUBLE))), 6) AS ari
       |FROM sij, sa, sb, nn""".stripMargin

  /** JS-divergence oracle chain, parametric in the distribution unit
    * (`unitSql` maps the token expr `tok` → raw term or hash bucket) —
    * shared by q204 (raw vocabulary) and q209 (256-bucket sketch tier).
    * Expression TREES mirror the Spark side exactly so the IEEE ÷/×/+
    * chain is bit-identical up to the ln, which snaps to nano.
    */
  private def sourceDivergenceOracleSql(unitSql: String): String = {
    val pa = "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
    val qb = "(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
    val mm = s"(($pa + $qb) / 2e0)"
    s"""WITH t AS (SELECT source, $unitSql AS term
       |  FROM (SELECT source, unnest($toksSql) AS tok FROM documents)),
       |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
       |  FROM t GROUP BY source, term),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tf
       |  GROUP BY source),
       |pr AS (SELECT a.source AS source_a, b.source AS source_b,
       |    a.n AS na, b.n AS nb
       |  FROM tot a JOIN tot b ON a.source < b.source),
       |va AS (SELECT source_a, source_b, term, c AS ca FROM pr
       |  JOIN tf ON tf.source = pr.source_a),
       |vb AS (SELECT source_a, source_b, term, c AS cb FROM pr
       |  JOIN tf ON tf.source = pr.source_b),
       |mg AS (SELECT coalesce(va.source_a, vb.source_a) AS source_a,
       |    coalesce(va.source_b, vb.source_b) AS source_b,
       |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
       |  FROM va FULL OUTER JOIN vb ON va.source_a = vb.source_a
       |    AND va.source_b = vb.source_b AND va.term = vb.term),
       |mj AS (SELECT mg.source_a, mg.source_b, ca, cb, na, nb FROM mg
       |  JOIN pr ON mg.source_a = pr.source_a
       |    AND mg.source_b = pr.source_b),
       |ct AS (SELECT source_a, source_b, CAST(round(((
       |      CASE WHEN ca > 0 THEN $pa * ln($pa / $mm) ELSE 0e0 END +
       |      CASE WHEN cb > 0 THEN $qb * ln($qb / $mm) ELSE 0e0 END
       |    ) * 0.5e0) * 1000000000e0) AS BIGINT) AS nano
       |  FROM mj)
       |SELECT source_a, source_b, count(*) AS n_terms,
       |  round(CAST(sum(nano) AS DOUBLE) / 1000000000e0, 6)
       |    AS js_divergence
       |FROM ct GROUP BY source_a, source_b""".stripMargin
  }

  // ------------------------------------------------------------ flagship

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Regional
    * revenue rollup: orders ⋈ customer ⋈ nation ⋈ region with the three
    * dimension tables broadcast.
    */
  def entry(spark: SparkSession): DataFrame =
    regionalRevenue(spark, "/root/testdata/sf0.001")

  private def regionalRevenue(s: SparkSession, d: String): DataFrame =
    T(s, d, "orders")
      .join(broadcast(T(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** Session-cached curation STAGE-MEMBERSHIP relation
    * (doc_id, source, lang_known, exact_unique, near_unique) — q200 and
    * q207 walk the identical raw → lang-known → exact-unique →
    * near-unique pipeline (the most expensive composition left after the
    * cluster caches); computing the flags once and aggregating per
    * consumer gives bit-identical stage counts. The pipeline's shared
    * frames are checkpointed for the single build (the q200 discipline)
    * and released after the write.
    */
  private def curationStagesPath(s: SparkSession, d: String): String =
    SparkEntry.synchronized {
      val path = s"/tmp/graft_clusters/stages_${tagFor(d)}"
      val key = s"graft.internal.curationStagesBuilt.$path"
      if (s.conf.getOption(key).isEmpty) {
        val docs = T(s, d, "documents")
        Materialize.using(TextAnalysis.languageIdDf(docs)
          .filter(col("lang_pred") =!= "und").drop("lang_pred")) { lang =>
        Materialize.using(Dedup.exactNormalized(lang, "text", "doc_id")) { exact =>
        Materialize.owning(Dedup.clusterNearDups(
            Dedup.minhashNearDupPairs(exact, "doc_id", "text",
              shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8))) { clusters =>
          val near = exact.join(clusters, Seq("doc_id"), "left")
            .filter(col("cluster_rep").isNull ||
              col("cluster_rep") === col("doc_id"))
          graft.io.IO.writeDir(
            docs.select(col("doc_id"), col("source"))
              .join(lang.select(col("doc_id"), lit(1).as("__l")),
                Seq("doc_id"), "left")
              .join(exact.select(col("doc_id"), lit(1).as("__e")),
                Seq("doc_id"), "left")
              .join(near.select(col("doc_id"), lit(1).as("__n")),
                Seq("doc_id"), "left")
              .select(col("doc_id"), col("source"),
                coalesce(col("__l"), lit(0)).as("lang_known"),
                coalesce(col("__e"), lit(0)).as("exact_unique"),
                coalesce(col("__n"), lit(0)).as("near_unique")),
            path)
          s.conf.set(key, "true")
        }}}
      }
      path
    }

  /** Session-cached transition-edge relation
    * ([[graft.ops.Graph.transitionEdges]] over the event log) — the ~10
    * graph queries (PageRank/PPR/LPA/paths/triangles/k-core/HITS/…)
    * consume the IDENTICAL |distinct (src,dst)|-sized relation, so the
    * window-over-events derivation runs once per (session, sf) and every
    * consumer reads the parquet copy — bit-identical, because (string,
    * string, bigint) rows round-trip parquet exactly
    * ([[graft.io.IO.ensureWritten]] discipline).
    */
  private def transitionEdgesPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_clusters/tedges_${tagFor(d)}"
    graft.io.IO.ensureWritten(s, path)(
      Graph.transitionEdges(T(s, d, "events")))
    path
  }

  private def cachedTransitionEdges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(transitionEdgesPath(s, d))

  /** Session-cached mined-span relation over the pair-injected corpus —
    * q153 reports it, q154 scrubs with it; one mining run per session
    * ([[graft.io.IO.ensureWritten]]).
    */
  private def dupSpansPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_clusters/spans_${tagFor(d)}"
    graft.io.IO.ensureWritten(s, path)(
      Dedup.duplicateSpans(pairInjectedDocs(s, d), k = 3, minRun = 2,
        maxOcc = 20, shingleHash = graft.functions.md5Hash31(_)))
    path
  }

  /** Session-cached DSIR weight relation (target = src1-3) — q169
    * reports it, q170 selects on it; integer-ppm weights round-trip
    * parquet exactly.
    */
  private def dsirWeightsPath(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_clusters/dsir_${tagFor(d)}"
    graft.io.IO.ensureWritten(s, path)(
      Sampling.dsirWeights(T(s, d, "documents"),
        col("source").isin("src1", "src2", "src3")))
    path
  }

  /** Hybrid retrieval (q155): BM25 keyword leg (q149) ⊕ dense cosine leg
    * (q22, vec_id ≡ doc_id) fused by reciprocal rank — RRF never
    * compares raw scores across legs, so the two scales coexist. Shared
    * by q155 (the ranking) and q227 (the eval over it).
    */
  private def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val sparse = Similarity.ranked(
      TextAnalysis.bm25Rank(T(s, d, "documents"),
        queryTerms = Seq("dup", "vector", "scan"), topK = 20),
      "bm25", "doc_id")
    val dense = Similarity.ranked(
      Similarity.cosineTopK(T(s, d, "embeddings"), queryId = 0L, k = 20)
        .select(col("vec_id").as("doc_id"), round(col("sim"), 6).as("sim")),
      "sim", "doc_id")
    Similarity.rrfFuse(Seq(sparse, dense), "doc_id", k0 = 60, topK = 10)
  }

  // ----------------------------------------- clustering-eval shared cores

  /** Component-size census over a cached (vec_id, cluster_rep) relation —
    * shared by the exact (q201) and IVF (q210) graph tiers.
    */
  private def knnCensus(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("component_size"))
      .groupBy(col("component_size"))
      .agg(count(lit(1)).as("n_components"))

  /** Purity of a cluster relation against the labels: Σ per-cluster
    * majority-label count / Σ clustered — exact integer counts, one
    * rounded division. Shared by q221 (exact graph) and q224 (IVF graph,
    * tier-equivalent with every cell probed).
    */
  private def clusterPurity(emb: DataFrame, clusters: DataFrame): DataFrame = {
    val labeled = clusters.join(emb.select(col("vec_id"), col("label")),
      "vec_id")
    val perLabel = labeled.groupBy(col("cluster_rep"), col("label"))
      .agg(count(lit(1)).as("__c"))
    val perCluster = perLabel.groupBy(col("cluster_rep"))
      .agg(max(col("__c")).as("__maj"), sum(col("__c")).as("__tot"))
    perCluster.agg(count(lit(1)).as("n_clusters"),
        sum(col("__tot")).as("n_clustered"),
        sum(col("__maj")).as("__summaj"))
      .select(col("n_clusters"), col("n_clustered"),
        round(col("__summaj").cast("double") /
          col("n_clustered").cast("double"), 6).as("purity"))
  }

  /** Adjusted Rand index (Hubert–Arabie) of a cluster relation against
    * the labels: all pair-counting terms exact integer C(n,2) sums off
    * the contingency relation; the index one fixed double expression
    * tree rounded to 6. Shared by q222 / q225.
    */
  private def adjustedRandIndex(emb: DataFrame,
                                clusters: DataFrame): DataFrame = {
    val nij = clusters
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cluster_rep"), col("label"))
      .agg(count(lit(1)).as("__c"))
      .checkpointed
    def c2(frame: DataFrame, out: String) =
      frame.agg(expr("sum(__c * (__c - 1) DIV 2)").as(out))
    val sij = c2(nij, "__sij")
    val sa = c2(nij.groupBy(col("cluster_rep"))
      .agg(sum(col("__c")).as("__c")), "__sa")
    val sb = c2(nij.groupBy(col("label"))
      .agg(sum(col("__c")).as("__c")), "__sb")
    val nn = nij.agg(sum(col("__c")).as("n"))
    val cn2d = expr("CAST(n * (n - 1) DIV 2 AS DOUBLE)")
    val t2 = (col("__sa").cast("double") * col("__sb").cast("double")) /
      cn2d
    sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .crossJoin(broadcast(nn))
      .select(col("n").as("n_clustered"),
        round((col("__sij").cast("double") - t2) /
          (((col("__sa").cast("double") + col("__sb").cast("double")) /
            lit(2.0)) - t2), 6).as("ari"))
  }

  /** Normalized mutual information of a cluster relation against the
    * labels: every entropy/MI term one fixed double expression over
    * integer contingency counts, nano-snapped immediately after its ln
    * (the q204 discipline) so the sums are order-free BIGINTs;
    * NMI = I / ((Hc + Hl) / 2). Shared by q223 / q226.
    */
  private def clusterNmi(emb: DataFrame, clusters: DataFrame): DataFrame = {
    val nij = clusters
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cluster_rep"), col("label"))
      .agg(count(lit(1)).as("__c"))
      .checkpointed
    val nn = nij.agg(sum(col("__c")).as("n"))
    val ai = nij.groupBy(col("cluster_rep")).agg(sum(col("__c")).as("__a"))
    val bj = nij.groupBy(col("label")).agg(sum(col("__c")).as("__b"))
    def entNano(frame: DataFrame, cnt: String, out: String) = frame
      .crossJoin(broadcast(nn))
      .select(round((lit(-1.0) * (col(cnt).cast("double") /
          col("n").cast("double")) *
        log(col(cnt).cast("double") / col("n").cast("double"))) *
        lit(1e9)).cast("long").as("__nano"))
      .agg(coalesce(sum(col("__nano")), lit(0L)).as(out))
    val hc = entNano(ai, "__a", "__hc")
    val hl = entNano(bj, "__b", "__hl")
    val mi = nij
      .join(ai, "cluster_rep").join(bj, "label")
      .crossJoin(broadcast(nn))
      .select(round(((col("__c").cast("double") /
          col("n").cast("double")) *
        log((col("n").cast("double") * col("__c").cast("double")) /
          (col("__a").cast("double") * col("__b").cast("double")))) *
        lit(1e9)).cast("long").as("__nano"))
      .agg(coalesce(sum(col("__nano")), lit(0L)).as("__mi"))
    mi.crossJoin(broadcast(hc)).crossJoin(broadcast(hl))
      .crossJoin(broadcast(nn))
      .select(col("n").as("n_clustered"),
        when(col("__hc") + col("__hl") > 0,
          round(col("__mi").cast("double") /
            ((col("__hc").cast("double") + col("__hl").cast("double")) /
              lit(2.0)), 6)).otherwise(lit(0.0)).as("nmi"))
  }

  // ------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scans / projections / filters (SURVEY §2.1, §2.2) ---
    "q01_pricing_summary" -> ((s, d) =>
      T(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_extendedprice")).as("avg_price"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))),
    "q02_projection" -> ((s, d) =>
      T(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),
    "q03_filter" -> ((s, d) =>
      T(s, d, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")),

    // --- joins (SURVEY §2.3) ---
    "q04_regional_revenue" -> ((s, d) => regionalRevenue(s, d)),

    // --- aggregations (SURVEY §2.4: mean / median / max) ---
    "q05_group_median" -> ((s, d) =>
      T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          median(col("l_quantity")).as("median_qty"),
          median(col("l_extendedprice")).as("median_price"))),
    "q06_group_minmax" -> ((s, d) =>
      T(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          max(col("l_extendedprice")).as("max_price"),
          min(col("l_extendedprice")).as("min_price"),
          avg(col("l_extendedprice")).as("avg_price"))),

    // --- set ops (SURVEY §2.5: union/collate) ---
    "q07_union_all" -> ((s, d) =>
      T(s, d, "customer")
        .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"),
          lit("customer").as("kind"))
        .unionByName(
          T(s, d, "supplier")
            .select(col("s_name").as("name"), col("s_acctbal").as("acctbal"),
              lit("supplier").as("kind")))),

    // --- window / sort / top-k (SURVEY §2.5) ---
    "q08_window_topn" -> ((s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      T(s, d, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
    }),
    "q09_topk_orders" -> ((s, d) =>
      T(s, d, "orders")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),
    "q10_distinct" -> ((s, d) =>
      T(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()),

    // --- geo-grid aggregation, the reference's core op (SURVEY §2.2, §2.4) ---
    "q11_geo_median" -> ((s, d) =>
      GeoAggregate(geoPoints(T(s, d, "lineitem")), "median", 2.5)),
    "q12_geo_mean" -> ((s, d) =>
      GeoAggregate(geoPoints(T(s, d, "lineitem")), "mean", 2.5)),
    "q13_geo_max" -> ((s, d) =>
      GeoAggregate(geoPoints(T(s, d, "lineitem")), "max", 2.5)),

    // --- country enrichment via broadcast bbox join (SURVEY §2.7 U1) ---
    "q14_add_country" -> ((s, d) => {
      val pts = T(s, d, "customer").select(
        col("c_custkey"),
        ((col("c_custkey") % 1800) / lit(10.0) - lit(90.0)).as("Latitude"),
        ((col("c_custkey") * 7 % 3600) / lit(10.0) - lit(180.0)).as("Longitude"))
      AddCountry(pts, AddCountry.boxesDf(s))
    }),

    // --- events: json, time rollup, analytic window (SURVEY §2.6, §2.10) ---
    "q15_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))),
    "q16_hourly_rollup" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))),
    "q17_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("value"),
          (col("value") - col("prev_value")).as("delta"))
    }),

    // --- dedup (north-star §2.11) ---
    "q18_dedup_exact" -> ((s, d) =>
      Dedup.exactByHash(T(s, d, "documents"), "text", "doc_id")
        .select("doc_id", "lang", "n_chars")),

    // --- text analysis (north-star §2.11) ---
    "q19_token_stats" -> ((s, d) =>
      TextAnalysis.tokenStats(T(s, d, "documents"))),
    "q20_corpus_summary" -> ((s, d) =>
      TextAnalysis.corpusSummary(T(s, d, "documents"))),
    "q21_jaccard_adjacent" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val t = docs.select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      t.alias("a")
        .join(t.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(
          col("a.doc_id").as("doc_id"),
          jaccard(col("a.toks"), col("b.toks")).as("jaccard_next"))
    }),
    "q24_quality_score" -> ((s, d) =>
      TextAnalysis.qualityScore(T(s, d, "documents"))),
    "q25_langid_counts" -> ((s, d) =>
      TextAnalysis.languageIdDf(T(s, d, "documents"))
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n_docs"))),

    // --- similarity search (north-star §2.11) ---
    "q22_cosine_topk" -> ((s, d) =>
      Similarity.cosineTopK(T(s, d, "embeddings"), queryId = 0L, k = 10)),
    "q23_knn" -> ((s, d) =>
      Similarity.nearestNeighbor(T(s, d, "embeddings"), col("vec_id") < 20)),
    "q75_knn_blocked" -> ((s, d) =>
      // q23's semantics through the blocked bipartite scheme — the path
      // that survives a probe set too large to broadcast (same oracle:
      // the two plans must agree bit-for-bit)
      Similarity.nearestNeighborBlocked(T(s, d, "embeddings"), col("vec_id") < 20)),

    // --- LSH/sketch/multimodal, oracle-exact via portable md5 hashing ---
    "q26_minhash_sigs" -> ((s, d) =>
      // oracle-parity twin of the production minhash pipeline: same native
      // MinHashSignature expression + permutation family, md5-based shingle
      // hash DuckDB recomputes exactly; signature exploded to scalar rows
      // (the driver's compare cannot sort on array columns)
      // numPerm=32 (not the production 64): md5-per-shingle is the price of
      // DuckDB-recomputable signatures, and the twin exists to pin the
      // signature ARITHMETIC, not to be a production dedup — half the perms
      // halve the oracle-plumbing cost in the bench (q33 keeps 64)
      Dedup.minhashSignaturesPortable(T(s, d, "documents"), "doc_id", "text",
        shingleK = 3, numPerm = 32)
        .select(col("doc_id"), posexplode(col("sig")).as(Seq("perm", "sig")))),
    "q27_simhash" -> ((s, d) =>
      // 60-bit portable simhash (md5Hash60 token hash — 15 hex chars fit a
      // signed long in both engines); production path stays 64-bit xxhash64
      T(s, d, "documents")
        .select(col("doc_id"),
          Dedup.simhash(col("text"), t => md5Hash60(t), 60).as("simhash60"))),
    "q28_srp_buckets" -> ((s, d) =>
      T(s, d, "embeddings")
        .select(col("vec_id"),
          Similarity.srpBucket(col("embedding"), dim = 64, numPlanes = 8).as("bucket"))),
    "q29_multimodal_features" -> ((s, d) => {
      val m = Multimodal.decodeStub(
        Multimodal.synthesize(s, T(s, d, "documents").select("doc_id"), "doc_id"))
      val fcols = (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f$i"))
      // flattened scalars (struct/array columns break the driver's sort)
      m.select(Seq(col("media_id"), col("kind"), col("n_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.duration_ms").as("duration_ms")) ++ fcols: _*)
    }),
    "q30_bucketed_topk" -> ((s, d) =>
      Similarity.cosineTopKBucketed(T(s, d, "embeddings"), queryId = 0L, k = 10,
        dim = 64, numPlanes = 4)),

    // --- near-dup pair detection (north-star §2.11) ---
    "q31_blocked_jaccard_neardup" -> ((s, d) => {
      // blocked pairwise dedup: candidate pairs only within (lang, source)
      // blocks, and each block capped at its first 1000 doc_ids (rank
      // window) so in-block pairs stay bounded as the corpus grows — an
      // uncapped block's pair count is quadratic in corpus size. The LSH
      // pipeline (q33) is the unbounded-corpus path; this is the
      // blocking-key + bounded-sample design.
      val docs = T(s, d, "documents")
      val blockW = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
      // hashed token sets + precomputed sizes: per-pair work is one
      // long-array intersect (jaccard preserved up to 64-bit collisions)
      val t = docs
        .withColumn("__r", row_number().over(blockW))
        .filter(col("__r") <= 1000)
        .select(col("doc_id"), col("lang"), col("source"),
          sort_array(array_distinct(transform(tokens(col("text")), xxhash64(_)))).as("toks"))
        .withColumn("n", size(col("toks")))
      val inter = sortedIntersectCount(col("a.toks"), col("b.toks")).cast("double")
      val unionSize = (col("a.n") + col("b.n")).cast("double") - inter
      t.alias("a")
        .join(t.alias("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          when(unionSize === 0, lit(0.0)).otherwise(inter / unionSize).as("jaccard_sim"))
        .filter(col("jaccard_sim") >= 0.9)
    }),
    "q32_embedding_neardup" -> ((s, d) =>
      // exact all-pairs cosine ≥ τ via symmetric block partitioning: each
      // pair evaluated once, equi-joins only — no full-corpus broadcast,
      // no nested-loop join (PlanShapeSpec gates it). τ=0.4 is below any
      // LSH family's pruning range (srpBandedNearDupPairs covers τ≥0.8);
      // the naive broadcast form lives only in the DuckDB oracle now.
      Similarity.allPairsSimilarityJoin(T(s, d, "embeddings"), threshold = 0.4)),
    "q33_minhash_lsh_neardup" -> ((s, d) =>
      // full LSH pipeline on bigram shingles: signatures → banding →
      // verified pairs; catches the corpus's ~25 planted near-dup pairs
      // (jaccard ≈ 0.99) without the token-set vocab-noise matches
      Dedup.minhashNearDupPairs(T(s, d, "documents"), "doc_id", "text",
        shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8)),

    // --- hierarchical aggregates + skew-safe distinct (extensions) ---
    "q34_rollup_revenue" -> ((s, d) =>
      T(s, d, "orders")
        .join(broadcast(T(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(sum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))),
    "q35_distinct_users_per_type" -> ((s, d) =>
      Salting.skewSafeDistinctCount(
        Tables.events(s, d), Seq("event_type"), "user_id", "n_users")),
    "q36_asof_last_purchase" -> ((s, d) => {
      val ev = Tables.events(s, d)
      AsOfJoin(
        ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "purchase"),
        keyCols = Seq("user_id"), timeCol = "ts",
        payloadCol = "value", outCol = "last_purchase_value")
        .select("event_id", "user_id", "last_purchase_value")
    }),
    "q37_ivf_topk" -> ((s, d) => {
      // deterministic demo centroids: every 97th vector
      val emb = T(s, d, "embeddings")
      val centroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      Similarity.ivfTopK(emb, centroids, queryId = 1L, k = 10, nProbe = 2)
    }),
    "q38_neardup_clusters" -> ((s, d) =>
      // served from the session-cached rep relation (ensurePairClusters);
      // the LSH + CC pipeline this used to inline runs once per session
      Dedup.cachedClusters(s, docClustersPath(s, d))),
    "q276_incremental_clusters" -> ((s, d) => {
      // q38's cluster relation arrived at INCREMENTALLY (the daily-ingest
      // tier): build over the base corpus (doc_id%5 != 0) once, then mine
      // ONLY the batch's pairs (batch↔base via shared band buckets +
      // batch-internal LSH) and merge them into the stored clusters via
      // star compression — no LSH or CC re-run over the base. Shares
      // q38's exact-CC oracle: incremental ≡ full rebuild, oracle-proven
      val docs = T(s, d, "documents")
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val path = s"/tmp/graft_clusters/incr_${tagFor(d)}"
      val incrTag = "minhash shingleK=2 numPerm=64 bands=16 thr=0.8 incr"
      Dedup.ensurePairClusters(s, path, "doc_id",
        fingerprint = Some(Dedup.corpusFingerprint(base,
          Seq("doc_id", "text"))), paramsTag = incrTag)(
        Dedup.minhashNearDupPairs(base, "doc_id", "text",
          shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8)
          .select("id_a", "id_b"))
      val newPairs = Dedup.nearDupMatches(batch, base, "doc_id", "text",
          shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8)
        .select(col("__bid").as("id_a"), col("__cid").as("id_b"))
        .unionAll(Dedup.minhashNearDupPairs(batch, "doc_id", "text",
          shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8)
          .select("id_a", "id_b"))
      // restore the BASE-corpus meta after the merge: a fresh process's
      // ensure call then warm-reuses the stored relation and replays
      // only this idempotent append (ADVICE r11 — an append without a
      // fingerprint destroyed the meta and forced a full rebuild every
      // process start)
      Dedup.appendToPairClusters(s, path, "doc_id", newPairs,
        fingerprint = Some(Dedup.corpusFingerprint(base,
          Seq("doc_id", "text"))), paramsTag = incrTag)
      Dedup.cachedClusters(s, path)
    }),

    // --- scalar/json/date function coverage (SURVEY §2.6) ---
    "q39_props_stats" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .groupBy("event_type")
        .agg(avg(col("k")).as("avg_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))),
    "q40_scalar_funcs" -> ((s, d) =>
      T(s, d, "orders")
        .filter(col("o_orderpriority").like("%URGENT%") ||
          col("o_orderstatus") === "F")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"),
          upper(substring(col("o_orderpriority"), 1, 3)).as("prio3"),
          // double-rounded through integer cents: round(x/1000, 2) directly
          // diverges across engines when the quotient sits a last-ulp from
          // a .005 boundary (Spark rounds the exact binary expansion,
          // DuckDB a multiply-based form — observed at sf0.1). Integer
          // intermediates make every rounding input either far from .5 or
          // EXACTLY .5, which both engines round identically (away from 0)
          (round(round(col("o_totalprice") * 100, 0) / 1000, 0) / 100)
            .as("kprice"))),
    "q41_price_buckets" -> ((s, d) =>
      T(s, d, "orders")
        .select(
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "medium")
            .otherwise("large").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"))),
    "q42_shipping_priority" -> ((s, d) =>
      // TPC-H Q3 shape: selective dim filter -> broadcast -> fact join ->
      // agg -> top-k (TakeOrderedAndProject)
      T(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-07-01"))
        .join(T(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit("1998-07-01"))
        .groupBy(col("l_orderkey"),
          unix_timestamp(col("o_orderdate")).as("order_epoch"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)),
    "q43_semi_anti" -> ((s, d) => {
      val c = T(s, d, "customer")
      val o = T(s, d, "orders")
      val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(lit("with_orders").as("kind"), col("c_custkey"))
      val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(lit("no_orders").as("kind"), col("c_custkey"))
      withOrders.unionByName(withoutOrders)
    }),
    "q44_setops" -> ((s, d) => {
      val ordered = T(s, d, "lineitem")
        .join(T(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"))
      val all = T(s, d, "part").select(col("p_brand"))
      all.intersect(ordered).select(col("p_brand"), lit("ordered").as("status"))
        .unionByName(
          all.except(ordered).select(col("p_brand"), lit("never_ordered").as("status")))
    }),
    "q45_grouped_topk" -> ((s, d) => {
      // native grouped top-k operator (graft.plans.GroupedTopK): bounded
      // per-group buffers before AND after the shuffle instead of a full
      // per-group sort — same rows as the q08 window formulation
      val li = T(s, d, "lineitem")
      graft.plans.TopK.perGroup(li, Seq("l_suppkey"),
        Seq(("l_extendedprice", true), ("l_orderkey", false), ("l_linenumber", false)), 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
    }),
    "q46_returned_revenue" -> ((s, d) =>
      // TPC-H Q10 shape: returned-items revenue per customer, top 20
      T(s, d, "customer")
        .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(T(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .filter(col("l_returnflag") === "R")
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)),
    "q47_above_customer_avg" -> ((s, d) => {
      // correlated-aggregate pattern: orders above their own customer's
      // average order value, decorrelated as groupBy + broadcastable join
      val o = T(s, d, "orders")
      val avgs = o.groupBy(col("o_custkey").as("ck"))
        .agg(avg(col("o_totalprice")).as("cust_avg"))
      o.join(avgs, col("o_custkey") === col("ck"))
        .filter(col("o_totalprice") > col("cust_avg"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("cust_avg"))
    }),
    "q48_volume_shipping" -> ((s, d) => {
      // TPC-H Q7 shape: bidirectional nation-pair trade volume by ship
      // year; the fact join chain shuffles, both nation dims broadcast,
      // and the l_shipdate range predicate pushes into the Parquet scan
      val n1 = T(s, d, "nation").select(
        col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
      val n2 = T(s, d, "nation").select(
        col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
      T(s, d, "supplier")
        .join(T(s, d, "lineitem"), col("s_suppkey") === col("l_suppkey"))
        .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .filter(
          col("supp_nation").isin("NATION_1", "NATION_2", "NATION_3") &&
            col("cust_nation").isin("NATION_1", "NATION_2", "NATION_3") &&
            col("supp_nation") =!= col("cust_nation") &&
            col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1998-01-01"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    }),
    "q49_order_priority" -> ((s, d) =>
      // TPC-H Q4 shape: date-windowed order counts per priority, existence
      // semi-join against late-shipped lineitems (decorrelated EXISTS)
      T(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-10-01"))
        .join(T(s, d, "lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))),
    "q50_cube_revenue" -> ((s, d) =>
      // CUBE over (region, order status): all four grouping-set levels in
      // one pass (rollup's sibling; exercises ExpandExec)
      T(s, d, "orders")
        .join(broadcast(T(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .cube(col("r_name"), col("o_orderstatus"))
        .agg(sum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))),
    "q51_sessionization" -> ((s, d) => {
      // batch twin of EventStream.userSessions: 30-minute-gap sessions via
      // gaps-and-islands (lag → new-session flag → running sum), exact in
      // microseconds. Both window passes share one (user_id) shuffle+sort.
      val ev = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val prev = lag(col("ts"), 1).over(w)
      val newSession = when(
        prev.isNull ||
          unix_micros(col("ts")) - unix_micros(prev) > 1800L * 1000000L, 1L)
        .otherwise(0L)
      ev.withColumn("__new", newSession)
        .withColumn("session_seq",
          sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          unix_micros(min(col("ts"))).as("session_start_us"),
          count(lit(1)).as("n_events"),
          sum(col("value")).as("total_value"))
    }),
    "q52_percentiles" -> ((s, d) =>
      // exact multi-quantile per group (linear interpolation — the same
      // definition pandas/numpy/DuckDB use); ObjectHashAggregate like median
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          expr("percentile(value, 0.99)").as("p99"))),
    "q53_term_freq_topk" -> ((s, d) => {
      // inverted-index style term frequencies, top 5 per language through
      // the native GroupedTopK operator (bounded buffers, no window sort)
      val terms = T(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n_occurrences"))
      graft.plans.TopK.perGroup(terms, Seq("lang"),
        Seq(("n_occurrences", true), ("token", false)), 5)
    }),
    "q54_winnow_fingerprints" -> ((s, d) =>
      // winnowing fingerprints (k=3 shingles, window w=4) with the portable
      // hash so the exact fingerprint sets are oracle-checked
      T(s, d, "documents").select(
        col("doc_id"),
        explode(TextAnalysis.winnowFingerprints(col("text"), 3, 4,
          sh => md5Hash31(sh))).as("fp"))),
    "q55_promo_revenue" -> ((s, d) =>
      // TPC-H Q14 shape: conditional aggregation — promo share of revenue
      // in one pass over the join (no second scan for the numerator)
      T(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-07-01"))
        .join(T(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) * sum(
            when(col("p_type") === "PROMO",
              col("l_extendedprice") * (lit(1) - col("l_discount")))
              .otherwise(lit(0.0))) /
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("promo_revenue_pct"))),
    "q56_supplier_part_counts" -> ((s, d) =>
      // TPC-H Q16 shape: distinct supplier count per part attribute with a
      // NOT IN exclusion (planned as an anti-join, not a subquery loop)
      T(s, d, "lineitem")
        .join(T(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .filter(col("p_size").isin(1, 7, 14, 23) && col("p_type") =!= "PROMO")
        .join(T(s, d, "supplier").filter(col("s_acctbal") < 0)
          .select(col("s_suppkey").as("bad_supp")),
          col("l_suppkey") === col("bad_supp"), "left_anti")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))),
    "q57_event_pivot" -> ((s, d) =>
      // pivot/crosstab: per user-decile event-type counts; explicit value
      // list keeps the column set static (one pass, no value-discovery
      // job); absent cells filled to 0 to match SQL conditional counts
      // (pivot+count yields NULL for a missing combination)
      Tables.events(s, d)
        .groupBy((col("user_id") % 10).as("user_decile"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))),
    "q58_hash_sample" -> ((s, d) =>
      // deterministic ~5% hash-gated sample of documents (stable under
      // re-runs/repartitioning — the held-out-split property); portable
      // hash flavor so the oracle draws the identical sample
      Sampling.hashSamplePortable(T(s, d, "documents"), "doc_id", 5)
        .select("doc_id", "lang", "source", "n_chars")),
    "q69_grid_country" -> ((s, d) => {
      // same semantics as q14, different physical strategy: the grid-cell
      // EQUI-join tier of the spatial containment join (scales past the
      // broadcast-nested-loop bbox tier when the dim grows) — shares q14's
      // oracle semantics, so both tiers are hash-checked
      val pts = T(s, d, "customer").select(
        col("c_custkey"),
        ((col("c_custkey") % 1800) / lit(10.0) - lit(90.0)).as("Latitude"),
        ((col("c_custkey") * 7 % 3600) / lit(10.0) - lit(180.0)).as("Longitude"))
      AddCountry.viaGridIndex(pts, AddCountry.defaultBoxes)
    }),
    "q68_normalized_dedup" -> ((s, d) =>
      // fuzzy-exact dedup: first doc per CANONICALIZED text (lowercase,
      // punctuation stripped, whitespace collapsed) — catches re-cased /
      // re-wrapped duplicates that byte-exact hashing misses
      Dedup.exactNormalized(T(s, d, "documents"), "text", "doc_id")
        .select("doc_id", "lang", "n_chars")),
    "q66_large_orders" -> ((s, d) => {
      // TPC-H Q18 shape: customers with any order whose total quantity
      // exceeds a threshold — groupBy-HAVING decorrelated into a semi join
      val big = T(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("big_ok"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      T(s, d, "orders")
        .join(big, col("o_orderkey") === col("big_ok"), "left_semi")
        .join(broadcast(T(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"))
    }),
    "q67_min_cost_supplier" -> ((s, d) => {
      // TPC-H Q2 shape: per-part minimum-cost supplier — a correlated
      // MIN subquery decorrelated as aggregate + join-back; ties broken
      // by supplier key for determinism
      val costs = T(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("cost"))
      val best = costs.groupBy(col("l_partkey").as("bp"))
        .agg(min(struct(col("cost"), col("l_suppkey"))).as("b"))
        .select(col("bp"), col("b.cost").as("best_cost"),
          col("b.l_suppkey").as("best_supp"))
      best
        .join(broadcast(T(s, d, "part")), col("bp") === col("p_partkey"))
        .filter(col("p_size") <= 10)
        .select(col("p_partkey"), col("p_brand"), col("best_supp"),
          col("best_cost"))
    }),
    "q65_multimodal_mapPartitions" -> ((s, d) => {
      // the mapPartitions codec tier (one codec context per partition) —
      // the oracle recomputes StubCodec's portable byte-rolling-hash +
      // md5 feature arithmetic from the blob's hex
      val m = Multimodal.decodePartitionwise(
        Multimodal.synthesize(s, T(s, d, "documents").select("doc_id"), "doc_id"))
      val fcols = (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f$i"))
      m.select(Seq(col("media_id"), col("kind"), col("n_bytes")) ++ fcols: _*)
    }),
    "q63_quality_filter" -> ((s, d) => {
      // quantile-based outlier removal — the standard corpus-cleaning step:
      // drop docs outside the [p05, p95] band of a quality signal. The
      // 1-row percentile frame broadcasts; the corpus never shuffles.
      // EXACT percentile buffers all values in one aggregation state — the
      // oracle-parity choice; at corpus scale use approx_percentile (the
      // band edges don't need exactness there). Membership is deterministic
      // across engines: percentile is sort+interpolate (no summation
      // order), and q52 pins the interpolation arithmetic bit-equal.
      val scored = TextAnalysis.qualityScore(T(s, d, "documents"))
        .select(col("doc_id"), col("mean_token_len"))
      val bounds = scored.agg(
        expr("percentile(mean_token_len, 0.05)").as("lo"),
        expr("percentile(mean_token_len, 0.95)").as("hi"))
      scored.crossJoin(broadcast(bounds))
        .filter(col("mean_token_len") >= col("lo") &&
          col("mean_token_len") <= col("hi"))
        .select("doc_id", "mean_token_len")
    }),
    "q64_stratified_sample" -> ((s, d) =>
      // stratified hash sampling — rebalance the corpus by language with
      // per-stratum rates (deterministic, append-stable); portable hash so
      // the oracle draws the identical rows
      Sampling.hashSamplePortable(T(s, d, "documents"), "doc_id",
        when(col("lang") === "en", 20).otherwise(60))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))),
    "q61_moving_avg" -> ((s, d) => {
      // ROWS-frame analytic: 7-row trailing moving average over the daily
      // revenue series — the rows frame needs only a bounded buffer per
      // partition slot, no re-scan per row
      val daily = T(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("order_day"))
        .agg(sum(col("o_totalprice")).as("day_revenue"))
      val w = Window.orderBy(col("order_day")).rowsBetween(-6, 0)
      daily.select(
        unix_timestamp(col("order_day").cast("timestamp")).as("day_epoch"),
        col("day_revenue"),
        avg(col("day_revenue")).over(w).as("ma7"))
    }),
    "q62_group_concat" -> ((s, d) =>
      // ordered string aggregation (LISTAGG/string_agg): deterministic via
      // an explicit sort of the collected set
      T(s, d, "nation")
        .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n_nations"))),
    "q59_incremental_dedup" -> ((s, d) => {
      // operational dedup shape: a new batch dedups against the existing
      // corpus (hash anti-join) — the corpus is never re-deduped
      val docs = T(s, d, "documents")
      Dedup.exactNewOnly(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
        "text", "doc_id")
        .select("doc_id", "lang", "n_chars")
    }),
    // --- persisted-index lifecycle (build once, probe many) ---
    "q76_indexed_neardup" -> ((s, d) => {
      // q60's semantics through the PERSISTED signature index: the corpus
      // half is written as two bucketed tables (band/bucket-bucketed
      // signatures + id-bucketed verification shingles), then the batch
      // probes them — the operational shape where the corpus is hashed
      // once, not per batch. Same oracle as q60.
      val docs = T(s, d, "documents")
      val tag = tagFor(d)
      val name = s"neardup_idx_$tag"
      // ensure, not build: steady-state reruns in one session skip the
      // corpus hashing pass (the fresh run — and the driver's fresh JVM —
      // still pays it)
      Dedup.ensureNearDupIndex(docs.filter(col("doc_id") < 250),
        name, s"/tmp/graft_index/$tag", "doc_id", "text",
        shingleK = 2, numPerm = 64, bands = 16)
      Dedup.nearDupNewOnlyIndexed(docs.filter(col("doc_id") >= 250),
        name, "doc_id", "text", shingleK = 2, numPerm = 64, bands = 16,
        threshold = 0.8)
        .select("doc_id", "lang", "n_chars")
    }),
    "q77_ivf_indexed" -> ((s, d) => {
      // q37's semantics through the PERSISTED IVF index: cell assignments
      // written partitioned by cell_id, probe reads only its nProbe cells
      // (static partition pruning). Same centroids + oracle as q37.
      val emb = T(s, d, "embeddings")
      val centroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val tag = tagFor(d)
      val path = s"/tmp/graft_ivf/$tag"
      Similarity.ensureIvfIndex(emb, centroids, path)
      Similarity.ivfTopKIndexed(s, path, centroids, queryId = 1L, k = 10, nProbe = 2)
    }),

    // --- outer-join reconciliation + explicit grouping sets ---
    "q73_full_outer_balance" -> ((s, d) => {
      // reconciliation staple: per-nation negative-balance customer totals
      // FULL OUTER JOIN per-nation negative-balance supplier totals —
      // nations present on one side only keep NULLs on the other. Both
      // sides pre-aggregate to ≤ |nation| rows before the join, so the
      // full-outer join itself is dimension-sized regardless of corpus SF.
      val c = T(s, d, "customer").filter(col("c_acctbal") < 0)
        .groupBy(col("c_nationkey").as("nk_c"))
        .agg(sum(col("c_acctbal")).as("cust_neg_bal"), count(lit(1)).as("n_cust"))
      val su = T(s, d, "supplier").filter(col("s_acctbal") < 0)
        .groupBy(col("s_nationkey").as("nk_s"))
        .agg(sum(col("s_acctbal")).as("supp_neg_bal"), count(lit(1)).as("n_supp"))
      c.join(su, col("nk_c") === col("nk_s"), "full_outer")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          col("cust_neg_bal"), col("n_cust"), col("supp_neg_bal"), col("n_supp"))
    }),
    "q74_grouping_sets" -> ((s, d) =>
      // explicit GROUPING SETS — rollup (q34) and cube (q50) cover the
      // fixed lattices; this is the arbitrary-subset form, with
      // grouping_id() disambiguating a genuine NULL key from a subtotal
      // row (bit order: first grouping column = MSB, same as DuckDB's
      // GROUPING(r_name, o_orderstatus))
      T(s, d, "orders")
        .join(broadcast(T(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupingSets(
          Seq(Seq(col("r_name"), col("o_orderstatus")), Seq(col("r_name")), Seq()),
          col("r_name"), col("o_orderstatus"))
        .agg(sum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"),
          grouping_id().cast("int").as("gid"))),

    // --- approximate-sketch tier (scale twins of q52 / q35 / q63) ---
    "q70_approx_percentiles" -> ((s, d) =>
      // sketch quantiles with a per-quantile error gate: exact values are
      // hash-checked against DuckDB, and each percentile_approx estimate
      // must land inside the exact [p−0.01, p+0.01] band (GK guarantees
      // rank error ≤ 1e-4 — a red gate means a broken sketch). At corpus
      // scale only the sketch side runs (Quantiles.approxPercentiles):
      // bounded state instead of q52's full-value buffering.
      Quantiles.approxPercentilesChecked(
        Tables.events(s, d), Seq("event_type"), "value", Seq(0.5, 0.9, 0.99))),
    "q71_approx_distinct" -> ((s, d) =>
      // HLL++ distinct-count gate next to the exact count — the scale twin
      // of q35 (HLL state is ~KB per group vs count(DISTINCT)'s full key
      // set; register-max merge makes the estimate partitioning-invariant)
      Quantiles.approxDistinctChecked(
        Tables.events(s, d), Seq("event_type"), "user_id", "n_users")),
    "q72_approx_quality_filter" -> ((s, d) =>
      // q63's band filter through the sketch tier: count selected by the
      // exact band (oracle-checked) and assert the approx band selects the
      // same count up to the GK rank-error slack
      Quantiles.approxBandFilterChecked(
        TextAnalysis.qualityScore(T(s, d, "documents"))
          .select(col("doc_id"), col("mean_token_len")),
        "mean_token_len", 0.05, 0.95)),

    // --- analytic/stat/date/string function breadth (SURVEY §2.5, §2.6) ---
    "q78_window_stats" -> ((s, d) => {
      // distribution-rank window family; the (o_totalprice, o_orderkey)
      // ordering is tie-free so ntile bucket edges are deterministic
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      T(s, d, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cum_dist"))
    }),
    "q79_date_functions" -> ((s, d) =>
      T(s, d, "orders").select(
        col("o_orderkey"),
        // truncated/boundary dates rendered as strings: a DATE column
        // round-trips differently through pandas in the two engines
        date_format(trunc(col("o_orderdate"), "month"), "yyyy-MM-dd")
          .as("month_start"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")
          .as("month_end"),
        dayofweek(col("o_orderdate")).as("dow_sun1"),
        quarter(col("o_orderdate")).as("qtr"),
        weekofyear(col("o_orderdate")).as("iso_week"),
        datediff(to_date(lit("1998-12-31")), col("o_orderdate"))
          .as("days_to_eoy"))),
    "q80_string_functions" -> ((s, d) =>
      T(s, d, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        levenshtein(col("p_name"), col("p_type")).as("name_type_dist"),
        lpad(col("p_partkey").cast("string"), 10, "0").as("key_padded"),
        reverse(col("p_name")).as("name_rev"),
        instr(col("p_name"), "re").as("re_pos"),
        translate(col("p_type"), "AEIOU", "aeiou").as("type_lower_vowels"))),
    "q81_tfidf_top_terms" -> ((s, d) =>
      TextAnalysis.tfIdfTopTerms(T(s, d, "documents"), "doc_id", "text", 3)),
    "q82_stat_aggregates" -> ((s, d) =>
      // second-moment aggregate family; rounded on both sides because
      // Welford merge order differs across engines (~1e-12 relative)
      T(s, d, "lineitem").groupBy(col("l_returnflag")).agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("qty_price_corr"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4)
          .as("qty_price_covar"),
        round(stddev_samp(col("l_discount")), 6).as("discount_sd"),
        round(var_pop(col("l_tax")), 6).as("tax_var"))),
    "q83_range_frame" -> ((s, d) => {
      // RANGE frame keyed on epoch seconds: a gap in the day sequence
      // shrinks the trailing-week window (unlike the ROWS frame of q61)
      val daily = Tables.events(s, d)
        .groupBy(
          unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"),
          col("event_type"))
        .agg(sum(col("value")).as("day_value"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day_epoch"))
        .rangeBetween(-6L * 86400, Window.currentRow)
      daily.select(col("event_type"), col("day_epoch"),
        round(sum(col("day_value")).over(w), 4).as("value_7d"))
    }),

    // --- training-batch assembly (north-star §2.11) ---
    "q84_pack_sequences" -> ((s, d) =>
      // block packing of documents into 512-token training packs, sharded
      // by id so packing parallelizes across input splits
      TextAnalysis.packSequences(T(s, d, "documents"), budgetTokens = 512,
        nShards = 4)),
    "q85_contamination_check" -> ((s, d) => {
      // winnow-fingerprint overlap between a training batch and a held
      // reference corpus: catches quoted benchmark passages, not just
      // whole-document near-dups (portable hash → oracle recomputes sets)
      val docs = T(s, d, "documents")
      TextAnalysis.contaminationFlags(
        docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
        "doc_id", "text", k = 5, w = 8, shingleHash = md5Hash31)
    }),

    "q96_unigram_lm_score" -> ((s, d) =>
      // corpus-trained unigram LM cross-entropy per document (the CCNet
      // quality-filter shape: improbable token streams score high)
      TextAnalysis.unigramCrossEntropy(T(s, d, "documents"))),
    "q95_chunking" -> ((s, d) =>
      // retrieval-prep chunking: 32-token windows every 16 tokens; the
      // exact chunk text is pinned through the portable hash
      TextAnalysis.chunkDocuments(T(s, d, "documents"), size = 32, stride = 16)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5Hash31(col("chunk_text")).as("chunk_hash"))),
    "q100_training_pipeline" -> ((s, d) => {
      // capstone composition — the full pre-training data path in one
      // lazy plan: PII scrub → min-length quality gate → exact dedup on
      // the cleaned text → sharded sequence packing → per-pack stats.
      // Every stage is one of the library operators; Catalyst fuses the
      // map-side stages into the same scan.
      val cleaned = T(s, d, "documents")
        .withColumn("clean_text", TextAnalysis.cleanText(col("text")))
      val kept = cleaned.filter(tokenCount(col("clean_text")) >= 10)
      // exactByHash, not exact: the dedup exchange is keyed on the 128-bit
      // content hash — the full cleaned text never shuffles (the 100 TB
      // shape this library prescribes; PlanShapeSpec gates it)
      val deduped = Dedup.exactByHash(kept, "clean_text", "doc_id")
      TextAnalysis.packSequences(deduped, budgetTokens = 256, nShards = 4,
        idCol = "doc_id", textCol = "clean_text")
        .groupBy(col("lang"), col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    }),
    "q97_mad_outliers" -> ((s, d) => {
      // robust companion to q93: MAD-based modified z over the same daily
      // grain (medians don't move when the anomaly itself inflates stddev)
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(round(sum(col("value")), 4).as("day_total"))
      Quantiles.madOutlierScores(daily, Seq("event_type"), "day_total")
        .select(col("event_type"), col("day_epoch"), col("day_total"),
          col("robust_z"), col("is_outlier"))
    }),
    "q98_histogram" -> ((s, d) =>
      // fixed-width 25-unit histogram of event values (20 bins over the
      // [0, 500) domain) — the profiling companion to q90; bin edges are
      // exactly representable so floor() agrees across engines
      Tables.events(s, d)
        .select(least(greatest(floor(col("value") / 25.0), lit(0.0)), lit(19.0))
          .cast("int").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("bin"), (col("bin") * 25.0).as("bin_lo"), col("n_events"))),
    "q99_type_entropy" -> ((s, d) => {
      // per-user Shannon entropy of the event-type distribution — a
      // behavioral-diversity feature (0 = single-type user)
      val c = Tables.events(s, d).groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("__n"))
      val t = c.groupBy(col("user_id")).agg(sum(col("__n")).as("__t"))
      c.join(t, "user_id")
        .groupBy(col("user_id"))
        .agg(sum(col("__n")).as("n_events"),
          round(-sum((col("__n") / col("__t")) *
            log(col("__n").cast("double") / col("__t"))), 6).as("type_entropy"))
    }),
    "q94_array_functions" -> ((s, d) => {
      // higher-order/array function family over the embedding vectors,
      // reduced to scalars (sorted-middle via array_sort, L1 via an
      // in-order fold both engines compute identically)
      val v = col("embedding")
      T(s, d, "embeddings").select(
        col("vec_id"),
        array_min(v).as("v_min"),
        array_max(v).as("v_max"),
        round(aggregate(transform(v, x => abs(x)), lit(0.0), (a, x) => a + x), 6)
          .as("l1_norm"),
        round(aggregate(slice(v, 1, 3), lit(0.0), (a, x) => a + x), 6)
          .as("first3_sum"),
        size(filter(v, x => x > 0)).as("n_positive"),
        element_at(array_sort(v), 32).as("sorted_mid"))
    }),
    "q93_zscore_days" -> ((s, d) => {
      // per-type daily anomaly scores: flag days whose total deviates from
      // the type's mean by > 1.5 sample stddevs. The flag compares the
      // ROUNDED z so both engines gate on bit-identical values (an
      // unrounded threshold compare could flip on last-ULP sum noise)
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(sum(col("value")).as("day_total"))
      val w = Window.partitionBy(col("event_type"))
      val z = round((col("day_total") - avg(col("day_total")).over(w)) /
        stddev_samp(col("day_total")).over(w), 6)
      daily.select(col("event_type"), col("day_epoch"),
        round(col("day_total"), 4).as("day_total"),
        z.as("z"), (abs(z) > 1.5).as("is_outlier"))
    }),
    "q91_weighted_sample" -> ((s, d) =>
      // importance sampling by document length: deterministic A-ES keys,
      // so the selected set is reproducible across engines and re-runs
      Sampling.weightedSample(
        T(s, d, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", k = 50)),
    "q92_resample_gaps" -> ((s, d) =>
      // sparse high-value events (value ≥ 200 ≈ p97) resampled to a dense
      // per-type daily grid; absent days zero-filled and flagged
      Resample.dailyWithGaps(
        Tables.events(s, d).filter(col("value") >= 200),
        "event_type", "ts", "value")),
    "q90_profile" -> ((s, d) =>
      // single-pass data-profiling summary, Expand-free: HLL tier for the
      // sketch estimates + a stack-unpivot single-distinct branch for the
      // exact counts, with the nd_ok error gate oracle-checking that the
      // HLL estimates sit inside their contract (the exact multi-column
      // profile — Profile.profile(exact = true) — multiplies every row by
      // the column count through RewriteDistinctAggregates' Expand; it
      // stays oracle-equivalent and unit-tested in ProfileSpec)
      Profile.profileChecked(T(s, d, "orders"),
        Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
          "o_orderpriority"))),
    "q89_heavy_hitters" -> ((s, d) => {
      // Space-Saving top-10 terms via the native bounded-state aggregate.
      // The corpus vocabulary (31 tokens) is under the 64-entry capacity,
      // so the sketch is provably exact with zero error — which is what
      // lets DuckDB oracle-check it with plain counts; the eviction/skew
      // regime is pinned by SpaceSavingSpec.
      T(s, d, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .agg(spaceSavingTopK(col("token"), capacity = 64, k = 10).as("__hh"))
        .select(explode(col("__hh")).as("e"))
        .select(col("e.item").as("token"),
          col("e.count_est").as("n_occurrences"),
          (col("e.count_err") === 0L).as("sketch_exact"))
    }),
    "q88_range_join" -> ((s, d) => {
      // no-equi-key interval join through the bucketized rewrite: five
      // overlapping 6-day promo windows (5-day stride) against the event
      // stream; an event inside an overlap counts toward both windows
      val base = 1704067200L // 2024-01-01T00:00:00Z, the events epoch
      val win = T(s, d, "region").select(
        col("r_regionkey"),
        timestamp_seconds(lit(base) + col("r_regionkey") * (5L * 86400))
          .as("w_start"),
        timestamp_seconds(lit(base) + col("r_regionkey") * (5L * 86400)
          + 6L * 86400).as("w_end"))
      RangeJoin.bucketized(Tables.events(s, d), "ts", win,
        "w_start", "w_end", bucketWidth = 2L * 86400)
        .groupBy("r_regionkey")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("total_value"))
    }),
    "q87_text_cleaning" -> ((s, d) => {
      // HTML/email/URL scrub: the exact cleaned string is pinned through
      // the portable hash, so the oracle engine must reproduce every
      // replacement byte-for-byte
      val cleaned = TextAnalysis.cleanText(col("text"))
      T(s, d, "documents").select(
        col("doc_id"),
        md5Hash31(cleaned).as("clean_hash"),
        length(col("text")).as("n_chars_raw"),
        length(cleaned).as("n_chars_clean"))
    }),
    "q86_quantize_int8" -> ((s, d) =>
      // int8 vector compression with exactness pinned by integer summaries
      // (q_sum/q_norm2 are order-insensitive integer folds) and a
      // reconstruction-error bound per vector
      Similarity.quantizeInt8(T(s, d, "embeddings"))),

    "q60_incremental_neardup" -> ((s, d) => {
      // batch rows with no near-duplicate in the corpus (LSH bucket probe
      // + jaccard verify against the corpus signature index)
      val docs = T(s, d, "documents")
      Dedup.nearDupNewOnly(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8)
        .select("doc_id", "lang", "n_chars")
    }),

    "q101_contamination_indexed" -> ((s, d) => {
      // q85's semantics through the PERSISTED winnow-fingerprint inverted
      // index: the reference corpus is fingerprinted and fp-bucketed ONCE
      // (build), each training batch probes with a semi-join that reads
      // the index in place — zero exchange on the index side (PlanShapeSpec
      // gates it). Same oracle as q85: tier equivalence.
      val docs = T(s, d, "documents")
      val tag = tagFor(d)
      val name = s"contam_idx_$tag"
      TextAnalysis.ensureContaminationIndex(docs.filter(col("doc_id") < 400),
        name, s"/tmp/graft_contidx/$tag", "doc_id", "text", k = 5, w = 8,
        shingleHash = md5Hash31)
      TextAnalysis.contaminationFlagsIndexed(docs.filter(col("doc_id") >= 400),
        name, "doc_id", "text", k = 5, w = 8, shingleHash = md5Hash31)
    }),
    "q102_null_robustness" -> ((s, d) => {
      // null-semantics gate (the testdata itself is null-free): inject
      // NULLs with a when(), then push them through exact dedup (NULL keys
      // collapse into one group — row 1 of the NULL partition survives),
      // profile-style counts (count(*) counts NULL rows, count(v) skips
      // them), and a distribution entropy over the non-null values only —
      // one driver-checked row per event type, left-joined so a type with
      // zero non-null values would surface as a NULL entropy, not a
      // dropped row.
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
        when(col("value") < 50, lit(null)).otherwise(floor(col("value") / 10))
          .as("v"))
      val dd = Dedup.exact(e, Seq("event_type", "v"), "event_id")
      val stats = dd.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_kept"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null_kept"),
        count(col("v")).as("n_nonnull_kept"),
        min(col("v")).as("v_min"), max(col("v")).as("v_max"))
      val c = e.filter(col("v").isNotNull).groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("__n"))
      val t = c.groupBy(col("event_type")).agg(sum(col("__n")).as("__t"))
      val ent = c.join(t, "event_type").groupBy(col("event_type"))
        .agg(round(-sum((col("__n") / col("__t")) *
          log(col("__n").cast("double") / col("__t"))), 6).as("v_entropy"))
      stats.join(ent, Seq("event_type"), "left")
    }),
    "q103_exists_windowed_anti" -> ((s, d) => {
      // SQL-authored correlated NOT EXISTS over a WINDOWED subquery:
      // customers whose MOST RECENT order (row_number over the
      // per-customer date ranking) is not urgent — including customers
      // with no orders at all (NOT EXISTS is null-tolerant where NOT IN
      // is not). Plans as a left-anti join (PlanShapeSpec gates it).
      T(s, d, "customer").createOrReplaceTempView("v_customer")
      T(s, d, "orders").createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT c_custkey, c_name, c_acctbal FROM v_customer c
        WHERE NOT EXISTS (
          SELECT 1 FROM (
            SELECT o_custkey, o_orderpriority,
              row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey) AS rn
            FROM v_orders) w
          WHERE w.o_custkey = c.c_custkey AND w.rn = 1
            AND w.o_orderpriority = '1-URGENT')""")
    }),
    "q104_sql_top1_per_key" -> ((s, d) => {
      // the ubiquitous SQL top-1-per-key idiom (lateral-style: each
      // customer's single highest-value order) authored as row_number SQL.
      // RowNumberTopKRewrite — installed session-wide exactly as a
      // production spark.sql.extensions deployment would — replans the
      // window+filter as the native bounded-buffer GroupedTopK operator
      // (PlanShapeSpec asserts the rewrite fired on this SQL form).
      graft.plans.TopK.installSqlExtensions(s)
      T(s, d, "customer").createOrReplaceTempView("v_customer")
      T(s, d, "orders").createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT c_custkey, c_name, o_orderkey, o_totalprice FROM (
          SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
            row_number() OVER (PARTITION BY c.c_custkey
              ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
          FROM v_customer c JOIN v_orders o ON o.o_custkey = c.c_custkey)
        WHERE rn = 1""")
    }),
    "q105_incremental_etl" -> ((s, d) => {
      // the incremental-ETL maintenance shape, driver-checked end to end:
      // two event batches (split MID-day, so the boundary day exists in
      // BOTH and exercises the merge-sum path) upsert a day-partitioned
      // totals table via dynamic partition overwrite; reading the table
      // back must equal a from-scratch daily rollup (the oracle). The
      // dest is wiped first so the query is rerun-idempotent.
      val tag = tagFor(d)
      val dest = s"/tmp/graft_etl/$tag"
      val p = new org.apache.hadoop.fs.Path(dest)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val ev = Tables.events(s, d)
      val cut = "2024-01-15 12:00:00"
      graft.streaming.EventStream.upsertDailyTotals(
        ev.filter(col("ts") < lit(cut).cast("timestamp")), dest)
      graft.streaming.EventStream.upsertDailyTotals(
        ev.filter(col("ts") >= lit(cut).cast("timestamp")), dest)
      s.read.parquet(dest)
        .select(col("event_type"), col("day").cast("string").as("day"),
          col("day_total"), col("n_events"))
    }),
    "q106_rolling_fingerprint" -> ((s, d) =>
      // order-sensitive rolling document fingerprint (base-31 fold mod
      // 2^31-1 over per-token hashes) — portable-hash twin so DuckDB
      // recomputes the exact fold left-to-right (list_reduce); the
      // production default keeps the codegen'd murmur3 token hash
      T(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text"), md5Hash31).as("fp"))),
    "q107_repetition_flags" -> ((s, d) =>
      // Gopher-style repetition filters: duplicate-token fraction +
      // top-bigram fraction, thresholds chosen to split this corpus
      // (dup median ≈ 0.54, top-bigram p90 ≈ 0.069); fractions rounded
      // to 6 decimals BEFORE the compare so both engines flag the same
      // rows
      TextAnalysis.repetitionStats(T(s, d, "documents"),
        dupTokenMax = 0.6, topBigramMax = 0.05)),
    "q108_mixture_sample" -> ((s, d) =>
      // data-mixture construction: rates DERIVED from per-lang counts to
      // hit target shares (en 40%, others 15% each) of a 60%-of-corpus
      // output — integer ppm gate on the portable hash draws identical
      // rows in DuckDB. Checksum pins the exact kept id set (bit_xor:
      // overflow-proof under ANSI)
      Sampling.sampleToMixture(T(s, d, "documents"), "lang", "doc_id",
        Map("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15),
        outPct = 60)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          expr("bit_xor(doc_id)").as("id_checksum"))),
    "q109_token_budget_trim" -> ((s, d) =>
      // per-domain token-budget enforcement at histogram granularity:
      // keep the longest-doc buckets of each lang until 2k tokens (the
      // per-lang corpus runs 3.5-12k, so the trim bites at every SF) —
      // the only window runs over the (lang, bucket) histogram, never
      // the corpus
      Sampling.budgetTrim(T(s, d, "documents"), "lang", "n_chars",
        bucketWidth = 50L, tokenCount = tokenCount(col("text")),
        budgetTokens = 2000L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(tokenCount(col("text"))).as("tokens_kept"),
          expr("bit_xor(doc_id)").as("id_checksum"))),
    "q110_semantic_dedup" -> ((s, d) => {
      // SemDeDup: cluster-confined cosine dedup — the quadratic pair
      // scan runs within cells only (equi-join on cell_id). Same
      // centroid scheme as q37/q77; τ=0.35 sits between the within-cell
      // cosine p99 (~0.32) and max (~0.51), so the flag set is
      // non-trivial at every SF
      val emb = T(s, d, "embeddings")
      val centroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      Similarity.semanticDedupFlags(emb, centroids, tau = 0.35)
    }),
    "q111_perplexity_buckets" -> ((s, d) => {
      // CCNet-style perplexity-bucketed sampling: score docs with the
      // corpus unigram LM, bucket by EXACT interpolated quartiles of the
      // (rounded) score, keep 100/50/25/10% per bucket through the
      // portable gate. The quartile thresholds are a 1-row aggregate
      // broadcast back — no global sort/ntile of the corpus, bucketing
      // is a map-only compare. Scores and thresholds are both rounded
      // to 6 decimals before the compare (cross-engine bucket parity).
      val scored = TextAnalysis.unigramCrossEntropy(T(s, d, "documents"))
      val th = scored.agg(expr(
        "transform(percentile(cross_entropy, array(0.25D, 0.5D, 0.75D))," +
          " x -> round(x, 6))").as("__th"))
      val bucketed = scored.crossJoin(broadcast(th))
        .withColumn("bucket",
          when(col("cross_entropy") <= element_at(col("__th"), 1), 1)
            .when(col("cross_entropy") <= element_at(col("__th"), 2), 2)
            .when(col("cross_entropy") <= element_at(col("__th"), 3), 3)
            .otherwise(4))
      Sampling.hashSamplePortable(bucketed, "doc_id",
        when(col("bucket") === 1, 100).when(col("bucket") === 2, 50)
          .when(col("bucket") === 3, 25).otherwise(10))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_kept"),
          expr("bit_xor(doc_id)").as("id_checksum"))
    }),
    "q112_pii_redaction" -> ((s, d) =>
      // the word-soup corpus carries no organic PII, so inject a
      // deterministic synthetic layer first (q102's injected-NULL trick,
      // applied to strings): both engines build the identical text, the
      // scrub genuinely fires, and the FULL redacted text participates
      // in the hash compare
      Redact.scrub(piiInjectedDocs(s, d), "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"),
          col("n_phones"), col("redacted"))),
    "q270_packing_efficiency" -> ((s, d) =>
      // strategy scorecard: the complement plan's pack count, solo share
      // and padding waste vs the concat-and-chop window count on the
      // same clamped token mass — the loader-design tradeoff (no doc
      // splits vs zero padding) in one row, all off the k-row plan
      Packing.complementPackingPlan(
          T(s, d, "documents").select(
            graft.functions.tokenCount(col("text")).cast("long")
              .as("n_toks")),
          "n_toks", capacity = 256)
        .agg(sum(col("fill_tokens") * col("n_packs")).as("total_tokens"),
          sum(col("n_packs")).as("n_packs"),
          sum(when(col("len_b").isNull, col("n_packs"))
            .otherwise(lit(0L))).as("n_solo_packs"),
          sum((lit(256L) - col("fill_tokens")) * col("n_packs"))
            .as("waste_tokens"))
        .select(col("total_tokens"),
          expr("(total_tokens + 255) DIV 256").as("concat_windows"),
          col("n_packs"), col("n_solo_packs"), col("waste_tokens"),
          expr("1000000 * waste_tokens DIV (n_packs * 256)")
            .as("waste_ppm"))),
    "q271_image_decode_resize" -> ((s, d) =>
      // REAL codec tier: javax.imageio PNG encode (fixture synth) →
      // q152's resize plan decides which blobs decode (in-budget images
      // never deserialize) → ImageIO decode + integer nearest-neighbor
      // resample → channel means + position-weighted pixel checksum.
      // The oracle replays the pattern + resample closed-form in SQL.
      Multimodal.decodeResizeImages(
        Multimodal.synthesizePng(s, T(s, d, "documents").select("doc_id"),
          "doc_id"), maxSide = 9)
        .select(col("media_id"), col("src_width"), col("src_height"),
          col("target_width"), col("target_height"),
          round(col("r_mean"), 6).as("r_mean"),
          round(col("g_mean"), 6).as("g_mean"),
          round(col("b_mean"), 6).as("b_mean"),
          col("pixel_checksum"))),
    "q269_pii_by_source" -> ((s, d) =>
      // provider-governance census over the injected-PII corpus: per
      // source, document incidence ppm and hits per million input
      // chars — the map-only scrub plus a groups-sized integer rollup
      Redact.piiBySource(piiInjectedDocs(s, d))),
    "q327_ref_trigram_kn" -> ((s, d) =>
      // the ACTUAL CCNet filter shape at trigram order: the KN LM
      // trains on the even-id half (the "Wikipedia") and scores the
      // odd-id half — unseen trigrams/prefixes/words exercise every
      // rung of the backoff chain down to the add-one-smoothed
      // continuation unigram, and the unseen-trigram count rides along
      // as the shift tripwire; target types LEFT-join the reference
      // count tables, missing rows ARE the backoff signal
      TextAnalysis.refTrigramKnCrossEntropy(
        T(s, d, "documents").filter(col("doc_id") % 2 === 1),
        T(s, d, "documents").filter(col("doc_id") % 2 === 0))),
    "q324_trigram_kn_lm" -> ((s, d) =>
      // the quality-filter ladder's production rung: interpolated
      // Kneser–Ney trigram (absolute discount 0.75, true-bigram
      // backoff, continuation-count unigram) — level joins at n-gram-
      // TYPE granularity, one join back to the (doc, trigram, tf)
      // relation; the same distributed skeleton as q113 one order up
      TextAnalysis.trigramKnCrossEntropy(T(s, d, "documents"))),
    "q113_bigram_lm_score" -> ((s, d) =>
      // conditional bigram LM quality score (KenLM-filter shape, one
      // rung above q96's unigram): single tokenize, array-side bigrams,
      // map-side-combinable counts — no corpus-hot-key window
      TextAnalysis.bigramCrossEntropy(T(s, d, "documents"))),
    "q331_kn5_lm" -> ((s, d) =>
      // the KenLM PRODUCTION order: interpolated Kneser–Ney at n=5 —
      // the q324 recursion three rungs up, every level's true counts
      // cut from ONE tokenize pass (allOrderFrequencies), level joins
      // type-granular, linear join fan (two per added order);
      // order=3 of this same chain is unit-pinned ≡ q324's tier
      TextAnalysis.ngramKnCrossEntropy(T(s, d, "documents"), order = 5)),
    "q332_ref_kn5" -> ((s, d) =>
      // cross-corpus 5-gram KN — the CCNet/KenLM perplexity filter at
      // its real order: trains on the even-id half, scores the odd-id
      // half; the CASE chain exercises every rung of the FIVE-level
      // backoff ladder (unseen 5-gram → reserved mass; unseen context
      // → next order down; bottoming in the add-one continuation
      // unigram), unseen-5-gram count rides as the shift tripwire
      TextAnalysis.refNgramKnCrossEntropy(
        T(s, d, "documents").filter(col("doc_id") % 2 === 1),
        T(s, d, "documents").filter(col("doc_id") % 2 === 0),
        order = 5)),
    "q114_corpus_melt" -> ((s, d) =>
      // relational melt (wide → long) of the per-language rollup via the
      // native unpivot operator — Expand-based, map-only, no shuffle
      // beyond the rollup's own aggregate
      TextAnalysis.corpusSummary(T(s, d, "documents"))
        .select(col("lang"),
          col("n_docs").cast("double").as("n_docs"),
          col("total_tokens").cast("double").as("total_tokens"),
          round(col("avg_tokens"), 6).as("avg_tokens"),
          round(col("avg_chars"), 6).as("avg_chars"))
        .unpivot(Array(col("lang")),
          Array(col("n_docs"), col("total_tokens"),
            col("avg_tokens"), col("avg_chars")),
          "metric", "value")),
    "q115_quality_model_score" -> ((s, d) =>
      // frozen-weight logistic quality classifier — model inference as a
      // codegen'd column expression (no UDF); score rounded to 6 BEFORE
      // the keep compare so both engines flag identical rows
      TextAnalysis.qualityLogistic(T(s, d, "documents"))),
    "q116_ewma_daily" -> ((s, d) =>
      // per-type EWMA over the daily rollup — the sequential stateful
      // fold family: one pass over event volume, then a bounded per-key
      // array fold (day totals rounded to 4 BEFORE the fold so both
      // engines fold bit-identical inputs)
      Resample.ewmaSmooth(Tables.events(s, d), "event_type", "ts",
        "value", alpha = 0.3)),
    "q117_fuzzy_name_pairs" -> ((s, d) =>
      // deletion-neighborhood (FastSS) blocking join: every supplier-name
      // pair within one edit, without the quadratic all-pairs compare
      Dedup.editDistancePairs(T(s, d, "supplier"), "s_name")),
    "q118_priority_rollup" -> ((s, d) =>
      // hierarchical subtotals via native rollup — grouping-set sugar on
      // top of q74's machinery: one Expand + one partial+final aggregate,
      // grouping_id() disambiguates subtotal NULLs from data NULLs
      T(s, d, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("revenue"),
          grouping_id().as("gid"))),
    "q119_pq_codes" -> ((s, d) => {
      // product-quantization tier: deterministic 16-centroid codebook
      // (every 37th vector, same derivation family as q37/q110's cells),
      // m=4 subspaces, ADC distance to probe vec 1 — encode is a map-only
      // broadcast projection, the full code table participates in the
      // hash
      val emb = T(s, d, "embeddings")
      val centroids = emb
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("embedding").as("centroid"))
      Similarity.pqEncodeAdc(emb, centroids, probeId = 1L, m = 4)
    }),
    "q120_zorder_key" -> ((s, d) =>
      // Morton clustering key for 2-D data skipping (the OPTIMIZE ZORDER
      // layout primitive): statically-unrolled bit interleave, one
      // codegen'd projection; writeZOrdered uses it to range-partition
      // files into compact (x, y) rectangles (ZOrderSpec pins locality)
      T(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Layout.zorder2(col("l_partkey"), col("l_orderkey")).as("zkey"))),
    "q272_zorder3_key" -> ((s, d) =>
      // q120 generalized to the real OPTIMIZE ZORDER shape: THREE scan
      // dimensions interleaved (bit i of col j at position i*3+j, 20
      // bits each = 60 ≤ 62, ANSI-safe); ZOrderSpec pins that 3-D
      // z-blocks prune all three dimensions where any 1-D sort loses
      // on the sum (20 vs 36 chunks touched on the 16^3 fixture)
      T(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Layout.zorderN(Seq(col("l_partkey"), col("l_suppkey"),
          col("l_orderkey")), bits = 20).as("zkey3"))),
    "q284_zorder_scan" -> ((s, d) => {
      // the z-order layout READ BACK through the query path (VERDICT
      // r11 #6): write-once per (session, sf) a lineitem layout
      // clustered by (l_partkey, l_suppkey), then run the selective 2-D
      // scan the layout exists for. The rewrite is row-preserving, so
      // the oracle is the same predicate over the raw table; the
      // footer-level skipping proof is ZOrderSpec's chunk-count gate,
      // and PlanShapeSpec pins that BOTH predicates push into this scan
      val path = s"/tmp/graft_layout/z2_${tagFor(d)}"
      val key = s"graft.internal.zorderWritten.$path"
      if (s.conf.getOption(key).isEmpty) {
        Layout.writeZOrderedN(
          T(s, d, "lineitem").select("l_orderkey", "l_partkey",
            "l_suppkey", "l_quantity"),
          Seq("l_partkey", "l_suppkey"), path, numFiles = 8, bits = 16)
        s.conf.set(key, "true")
      }
      s.read.parquet(path)
        .filter(col("l_partkey") < 50 && col("l_suppkey") < 5)
        .groupBy("l_partkey", "l_suppkey")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty")) // integer-valued: exact
    }),
    "q285_bloom_lookup" -> ((s, d) => {
      // the bloom-filter layout READ BACK through the query path: write-
      // once per (session, sf) with a bloom filter on the unsorted
      // high-cardinality l_orderkey (min/max stats cannot skip a point
      // lookup there), then the needle-in-haystack id probe. Correctness
      // oracle = same lookup on the raw table; the row-group-skip proof
      // (bloom-on reads 1–2 groups where stats-only reads all) is
      // ZOrderSpec's bloom read gate
      val path = s"/tmp/graft_layout/bloom_${tagFor(d)}"
      val key = s"graft.internal.bloomWritten.$path"
      if (s.conf.getOption(key).isEmpty) {
        Layout.writeWithBloomFilters(
          T(s, d, "lineitem").select("l_orderkey", "l_partkey",
            "l_quantity"),
          Seq("l_orderkey"), path, ndv = 100000L)
        s.conf.set(key, "true")
      }
      s.read.parquet(path)
        .filter(col("l_orderkey") === 1L)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"))
    }),
    "q286_skew_report" -> ((s, d) =>
      // the diagnostic read BEFORE reaching for the skew defenses: exact
      // hot-key frequencies (partial-aggregated), corpus share ppm, ratio
      // vs the mean key, and the ready-to-use salt-bucket knob — a
      // broadcast 1-row totals frame + TakeOrderedAndProject top-k, so
      // nothing key-cardinality-sized sorts globally (plan-gated in
      // DedupSpec)
      Salting.skewReport(T(s, d, "lineitem").select(col("l_partkey")),
        "l_partkey", topK = 10)),
    "q288_source_sample" -> ((s, d) =>
      // deterministic exact-n-per-source sample: smallest portable
      // id-hash wins, id tie-break — the eval-slice primitive percent
      // gates can't deliver for small groups; GroupedTopK bounded
      // buffers, never a group in one task
      Sampling.groupSample(T(s, d, "documents").select("source", "doc_id"),
        "source", "doc_id", n = 20)),
    "q289_systematic_sample" -> ((s, d) =>
      // systematic weight-proportional selection (~k docs, inclusion ∝
      // n_chars) on the two-level prefix scan — no RNG, no float: pure
      // integer interval containment, replayed bit-for-bit by the oracle
      Sampling.systematicWeightedSample(
        T(s, d, "documents").select("doc_id", "n_chars"), "n_chars",
        k = 100)),
    "q287_media_curation_capstone" -> ((s, d) => {
      // capstone v11: the vision-corpus curation funnel in ONE row over
      // a corrupt + re-upload-injected image corpus — quarantine census
      // (q282) → brightness gate over DECODED truth with INTEGER bounds
      // (80·n ≤ Σg ≤ 176·n — no float in the gate, q279's moments) →
      // perceptual dup collapse (distinct aHash lanes, q273/q274) →
      // resize-pressure census off metadata alone (q152); each branch a
      // broadcast 1-row frame, the corpus never collects. The quality
      // and aHash branches read ONE materialized decodeImageFeatures
      // relation — each blob reaches the codec exactly once, not once
      // per consuming tier (the decode is the funnel's dominant cost)
      val ids = T(s, d, "documents").select("doc_id")
      val media = Multimodal.withCorruptedBlobs(
        Multimodal.synthesizePng(s, ids, "doc_id", patternMod = 10),
        everyNth = 5)
      val feats = Multimodal.decodeImageFeatures(media).checkpointed
      val census = feats.agg(
        count(lit(1)).as("n_images"),
        count(col("decode_error")).as("n_quarantined"),
        sum(when(col("decode_error").isNull &&
          col("gray_sum") >= lit(80L) * col("width") * col("height") &&
          col("gray_sum") <= lit(176L) * col("width") * col("height"),
          1L).otherwise(0L)).as("n_bright_ok"))
      val uniq = feats
        .filter(col("decode_error").isNull)
        .agg(countDistinct(col("ahash_hi"), col("ahash_lo"))
          .as("n_unique_visual"))
      val rz = Multimodal.resizePlan(media, maxSide = 9)
        .agg(sum(when(col("needs_resize"), 1L).otherwise(0L))
          .as("n_need_resize"))
      census.crossJoin(uniq).crossJoin(rz)
    }),
    "q121_jl_projection" -> ((s, d) => {
      // Johnson-Lindenstrauss random projection 64 → 24 dims with the
      // SAME seeded plane family as SRP (plan-build-time constants — the
      // whole projection is one codegen'd projection, no shuffle). The
      // norm-preservation ratio is E[1] with ~chi2_24/24 spread; the
      // oracle mirrors the plane-ordered fold and the exact 0.125 scale,
      // so the rounded ratio (and with it the bounds flag) agrees
      // cross-engine to the same last-ulp class as every rounded float
      // here
      val planes = Similarity.srpPlanes(64, 24)
      val v = col("embedding").cast("array<double>")
      val projSq = planes.map { p =>
        val dp = dotProduct(v, array(p.map(lit): _*)); dp * dp
      }.reduce(_ + _)
      T(s, d, "embeddings")
        .select(col("vec_id"),
          round(dotProduct(v, v), 6).as("orig_norm2"),
          round(projSq * lit(3.0 / 24), 6).as("proj_norm2_scaled"))
        .withColumn("ratio",
          when(col("orig_norm2") === 0, lit(0.0))
            .otherwise(round(col("proj_norm2_scaled") / col("orig_norm2"), 6)))
        .withColumn("in_bounds",
          (col("ratio") >= 0.15 && col("ratio") <= 3.0).cast("int"))
    }),
    "q122_snapshot_diff" -> ((s, d) => {
      // corpus version diff: v2 drops doc_id % 17, rewrites text for
      // doc_id % 10, and appends negated-id copies of doc_id % 50 — both
      // engines construct the identical snapshots, the operator reduces
      // each side to (key, portable hash) before the full-outer join so
      // text never shuffles. Appended rows use -doc_id - 1: provably
      // disjoint from genuine non-negative ids at ANY scale factor (a
      // fixed +100000 offset would collide once documents exceeds 100k
      // rows, silently violating snapshotDiff's keyed-table contract)
      val docs = T(s, d, "documents")
      val v2 = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .union(docs.filter(col("doc_id") % 50 === 0)
          .select((-col("doc_id") - 1).as("doc_id"), col("text")))
      Diff.snapshotDiff(docs.select("doc_id", "text"), v2,
        Seq("doc_id"), Seq("text"),
        hashFn = cols => graft.functions.md5Hash31(cols.head))
    }),
    "q123_training_pipeline_v2" -> ((s, d) => {
      // capstone #2 — this round's operators composed in ONE plan:
      // inject PII → scrub (q112) → frozen-weight logistic quality gate
      // (q115) → bigram-LM p75 filter (q113, threshold via 1-row
      // broadcast like q111) → hash dedup (text never shuffles) →
      // per-lang rollup. Every stage's determinism discipline is the one
      // its standalone query proved
      val docs = T(s, d, "documents")
      val withPii = docs.select(col("doc_id"), col("lang"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit(""))).as("text"))
      // three consumers (quality gate, LM scoring, the final join) —
      // materialize the scrubbed relation once instead of re-running the
      // regex chain per branch (same localCheckpoint discipline as
      // termFrequencies; CacheManager-free)
      val red = Redact.scrub(withPii, "text")
        .select(col("doc_id"), col("lang"), col("redacted").as("text"))
        .checkpointed
      val keepQ = TextAnalysis.qualityLogistic(red)
        .filter(col("keep") === 1).select("doc_id")
      val lm = TextAnalysis.bigramCrossEntropy(red)
      val th = lm.agg(
        round(expr("percentile(bigram_cross_entropy, 0.75D)"), 6).as("__th"))
      val gated = red.join(keepQ, "doc_id")
        .join(lm.select(col("doc_id"), col("bigram_cross_entropy")), "doc_id")
        .crossJoin(broadcast(th))
        .filter(col("bigram_cross_entropy") <= col("__th"))
      Dedup.exactByHash(gated, "text", "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(tokenCount(col("text"))).as("tokens_kept"),
          expr("bit_xor(doc_id)").as("id_checksum"))
    }),
    "q124_ivfpq_topk" -> ((s, d) => {
      // the production FAISS composition: IVF cell pruning (q37's cell
      // scheme) routes the query, PQ codes (q119's codebook) score the
      // candidates by ADC — raw vectors never leave their executors
      val emb = T(s, d, "embeddings")
      val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val codebook = emb
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("embedding").as("centroid"))
      Similarity.ivfPqTopK(emb, cellCentroids, codebook,
        queryId = 1L, k = 10, nProbe = 2, m = 4)
    }),
    "q125_ivfpq_residual_topk" -> ((s, d) => {
      // classic residual IVF-PQ (q124 codes raw vectors): the codebook
      // quantizes cell residuals, and ADC scores against the query's
      // residual in each candidate's cell — exact decomposition of
      // ||q - (cell_centroid + code_centroid)||²
      val emb = T(s, d, "embeddings")
      val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      // materialize the residual relation ONCE — the codebook derives from
      // it AND the search scores it, and without the checkpoint the
      // corpus-wide assign+subtract subtree would be built twice in one
      // plan (same localCheckpoint discipline as termFrequencies/q123)
      val resid = Similarity.cellResiduals(emb, cellCentroids)
        .checkpointed
      val codebook = resid
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("residual").as("centroid"))
      Similarity.ivfPqResidualTopK(emb, cellCentroids, codebook,
        queryId = 1L, k = 10, nProbe = 2, m = 4,
        residuals = Some(resid))
    }),
    "q126_ivfpq_indexed" -> ((s, d) => {
      // q124's semantics through the PERSISTED PQ-codes index: cell
      // assignment + PQ encode paid once at build (codes written
      // partitioned by cell_id), search reads nProbe pruned directories
      // and ADC-scores STORED codes — no assignCells, no codebook
      // recompute, no raw corpus vectors touched. Same oracle as q124.
      val emb = T(s, d, "embeddings")
      val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val codebook = emb
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("embedding").as("centroid"))
      val path = s"/tmp/graft_ivfpq/raw_${tagFor(d)}"
      Similarity.ensureIvfPqIndex(emb, cellCentroids, codebook, path, m = 4)
      Similarity.ivfPqTopKIndexed(s, path, emb, queryId = 1L, k = 10,
        nProbe = 2)
    }),
    "q127_ivfpq_residual_indexed" -> ((s, d) => {
      // q125's semantics through the persisted index: the residual
      // derivation (assign + subtract) AND the residual-space codebook
      // cost land at build time only — the per-query residual subtree
      // that made q125 the slowest steady query is gone from the search
      // path entirely. Same oracle as q125.
      val emb = T(s, d, "embeddings")
      val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val codebook = Similarity.cellResiduals(emb, cellCentroids)
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("residual").as("centroid"))
      val path = s"/tmp/graft_ivfpq/res_${tagFor(d)}"
      Similarity.ensureIvfPqIndex(emb, cellCentroids, codebook, path,
        m = 4, residual = true)
      Similarity.ivfPqTopKIndexed(s, path, emb, queryId = 1L, k = 10,
        nProbe = 2)
    }),
    "q128_ivf_batch_topk" -> ((s, d) => {
      // batch ANN: 50 probes' top-3 in ONE pass — one corpus cell
      // assignment, distributed probe routing (no per-query driver
      // collect), one equi-join for candidates, GroupedTopK finish.
      // The single-query tiers would run 50 separate jobs for this.
      val emb = T(s, d, "embeddings")
      val centroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      Similarity.ivfTopKBatch(emb, centroids, col("vec_id") < 50,
        k = 3, nProbe = 2)
    }),
    "q129_ivfpq_batch_topk" -> ((s, d) => {
      // batch probes over the PERSISTED residual PQ index — the full
      // composition: q127's index built once (shared path — ensure
      // makes the two queries cost one build), then 50 probes routed,
      // residual-decomposed, and ADC-scored in one plan over stored codes
      val emb = T(s, d, "embeddings")
      val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val codebook = Similarity.cellResiduals(emb, cellCentroids)
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("residual").as("centroid"))
      val path = s"/tmp/graft_ivfpq/res_${tagFor(d)}"
      Similarity.ensureIvfPqIndex(emb, cellCentroids, codebook, path,
        m = 4, residual = true)
      Similarity.ivfPqTopKBatch(s, path, emb, col("vec_id") < 50,
        k = 3, nProbe = 2)
    }),
    "q130_ivfpq_incremental" -> ((s, d) => {
      // index MAINTENANCE: build the PQ index on the first 400 vectors,
      // upsert the rest incrementally (encoded against the STORED
      // codebook, touched cell partitions dynamically overwritten) —
      // the result must be indistinguishable from a full build, so the
      // search shares q124/q126's oracle. Centroids/codebook derive from
      // the FULL corpus (the fixed %97/%37 rules) in both phases, exactly
      // as a production ingest encodes against the trained, frozen model.
      val emb = T(s, d, "embeddings")
      val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val codebook = emb
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("embedding").as("centroid"))
      val path = s"/tmp/graft_ivfpq/incr_${tagFor(d)}"
      val key = s"graft.internal.ivfPqIncrBuilt.$path"
      // build+append once per session (the ensure lifecycle, spanning
      // both maintenance steps); append alone is an idempotent upsert
      if (s.conf.getOption(key).isEmpty) {
        Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < 400),
          cellCentroids, codebook, path, m = 4)
        Similarity.appendToIvfPqIndex(s, path,
          emb.filter(col("vec_id") >= 400))
        s.conf.set(key, "true")
      }
      Similarity.ivfPqTopKIndexed(s, path, emb, queryId = 1L, k = 10,
        nProbe = 2)
    }),
    "q131_ivf_batch_indexed" -> ((s, d) => {
      // q128's batch search over the PERSISTED flat index (q77's index —
      // ensure makes the pair cost one build): no per-batch corpus
      // assignment, candidates read from the stored cell partitions
      val emb = T(s, d, "embeddings")
      val centroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val path = s"/tmp/graft_ivf/${tagFor(d)}"
      Similarity.ensureIvfIndex(emb, centroids, path)
      Similarity.ivfTopKBatchIndexed(s, path, centroids,
        col("vec_id") < 50, k = 3, nProbe = 2)
    }),
    "q132_distribution_drift" -> ((s, d) => {
      // post-ingest monitoring: language-mix drift between the corpus and
      // its q122-style next snapshot (drops %17, appends %50) — per-lang
      // counts/probabilities + Jensen-Shannon contribution; sum(js_term)
      // is the alertable JSD. Snapshots are scanned once each, never
      // shuffled (two map-side counts + a categories-sized join).
      val docs = T(s, d, "documents")
      val v2 = docs.filter(col("doc_id") % 17 =!= 0).select("lang")
        .union(docs.filter(col("doc_id") % 50 === 0).select("lang"))
      Diff.distributionDrift(docs.select("lang"), v2, "lang")
    }),
    "q133_index_cell_stats" -> ((s, d) => {
      // index health monitoring: per-cell population vs the median cell
      // over q126's persisted PQ index (ensure shares the build) — the
      // staleness trigger a production append-only ingest watches
      val emb = T(s, d, "embeddings")
      val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val codebook = emb
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("embedding").as("centroid"))
      val path = s"/tmp/graft_ivfpq/raw_${tagFor(d)}"
      Similarity.ensureIvfPqIndex(emb, cellCentroids, codebook, path, m = 4)
      Similarity.indexCellStats(s, s"$path/codes")
    }),
    "q134_chunk_dedup" -> ((s, d) =>
      // RefinedWeb-style paragraph dedup over 3-token chunks (the small
      // window is what makes the word-soup corpus actually collide;
      // real corpora use paragraph-sized chunks — the operator is
      // window-size-generic). Keeper = lowest (doc_id, chunk_idx);
      // reassembled text pinned through the portable hash
      Dedup.chunkDedup(T(s, d, "documents"), chunkTokens = 3)
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          md5Hash31(col("kept_text")).as("kept_hash"))),
    "q135_boilerplate_removal" -> ((s, d) => {
      // CCNet/RefinedWeb boilerplate-line filter: a deterministic synthetic
      // header (9 tokens = exactly three 3-token chunks) is prepended to
      // every 4th document — the q112-injection trick, since the corpus has
      // no organic boilerplate — then every chunk seen in >= 3 distinct
      // docs is deleted from ALL of them (natural word-soup collisions
      // crossing the threshold are removed identically in both engines)
      val docs = T(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit(boilerplateHeader + " "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.boilerplateRemove(docs, chunkTokens = 3, minDocFreq = 3)
        .select(col("doc_id"), col("n_chunks"), col("n_boiler"),
          md5Hash31(col("clean_text")).as("clean_hash"))
    }),
    "q136_event_pagerank" -> ((s, d) =>
      // link analysis over the event-type transition graph (which event
      // kinds funnel into which): lag-window edge derivation, then 10
      // fixed damped PageRank rounds — the oracle unrolls the identical
      // iteration to 10 SQL layers via Graph.pageRankOracleSql, one
      // source of truth for the arithmetic
      Graph.pageRank(cachedTransitionEdges(s, d),
        iterations = 10)),
    "q137_mmr_diverse" -> ((s, d) =>
      // diversified retrieval: MMR-greedy 5 picks from the 40-vector
      // query-similarity pool, redundancy penalized at 1−λ = 0.3 — the
      // oracle unrolls the same greedy selection to 5 materialized SQL
      // layers (every sim rounded to 6 before max/argmax, id tiebreak)
      Similarity.mmrSelect(T(s, d, "embeddings"), queryId = 2L, k = 5,
        lambda = 0.7, poolSize = 40)),
    "q138_rotated_pq" -> ((s, d) => {
      // OPQ's random-rotation baseline: rotate with a seeded orthonormal
      // matrix (plan-time literals, one codegen'd dot per output dim),
      // THEN q119's sampled-codebook PQ encode + ADC — rotation spreads
      // anisotropic variance across the 4 subspaces (SimilaritySpec pins
      // the recall win on decaying-spectrum data; the oracle replays the
      // rotation from rendered constants)
      val rot = Similarity.randomRotation(64)
      val rotated = T(s, d, "embeddings").select(col("vec_id"),
        Similarity.rotate(col("embedding"), rot).as("embedding"))
      val centroids = rotated
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("embedding").as("centroid"))
      Similarity.pqEncodeAdc(rotated, centroids, probeId = 1L, m = 4)
    }),
    "q139_ivfpq_refined" -> ((s, d) => {
      // two-stage retrieval over q126's shared persisted index: PQ-rank
      // a 50-candidate shortlist from stored codes, then exact-cosine
      // re-rank the shortlist's raw vectors to the final 10 — compressed-
      // domain scoring at corpus scale, floats only for 50 keyed rows
      val emb = T(s, d, "embeddings")
      val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val codebook = emb
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("embedding").as("centroid"))
      val path = s"/tmp/graft_ivfpq/raw_${tagFor(d)}"
      Similarity.ensureIvfPqIndex(emb, cellCentroids, codebook, path, m = 4)
      Similarity.ivfPqTopKRefined(s, path, emb, queryId = 1L, k = 10,
        rerank = 50, nProbe = 2)
    }),
    "q140_ivfpq_batch_refined" -> ((s, d) => {
      // q139's two-stage refinement, batched: 50 probes shortlist from
      // q129's shared residual index in one pass, ONE semi-joined raw
      // fetch re-ranks all Q·20 shortlist pairs, GroupedTopK finishes
      val emb = T(s, d, "embeddings")
      val cellCentroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val codebook = Similarity.cellResiduals(emb, cellCentroids)
        .filter(col("vec_id") % 37 === 0 && col("vec_id") / 37 < 16)
        .select((col("vec_id") / 37).cast("int").as("cid"),
          col("residual").as("centroid"))
      val path = s"/tmp/graft_ivfpq/res_${tagFor(d)}"
      Similarity.ensureIvfPqIndex(emb, cellCentroids, codebook, path,
        m = 4, residual = true)
      Similarity.ivfPqTopKBatchRefined(s, path, emb, col("vec_id") < 50,
        k = 3, rerank = 20, nProbe = 2)
    }),
    "q141_event_funnel" -> ((s, d) =>
      // ordered-funnel conversion: per-user depth through HIGH-VALUE
      // view → click → purchase (value > 150 makes qualifying events
      // sparse enough that depths actually spread; unfiltered, every
      // user trivially completes) with the strict-after first-touch
      // rule, rolled up to users-per-depth — each step is one
      // pushed-down scan + a narrow frontier join, never an
      // event-volume shuffle
      Funnel.funnelCounts(T(s, d, "events").filter(col("value") > 150),
        steps = Seq("view", "click", "purchase"))),
    "q142_frequent_paths" -> ((s, d) =>
      // sequence mining: global top-10 3-step event-type paths across
      // per-user ordered histories; (ts, event_id) sort inside the
      // collected array, count-desc/path tiebreak ranking
      Funnel.frequentPaths(T(s, d, "events"), n = 3, k = 10)),
    "q143_cohort_retention" -> ((s, d) =>
      // weekly retention triangle: cohort = ISO week of first activity,
      // cells count users active at each week offset; epoch-encoded
      // weeks. Tables.events (not T): date_trunc needs the normalized
      // TimestampType column, not the raw nanos long
      Funnel.cohortRetention(Tables.events(s, d))),
    "q144_personalized_pagerank" -> ((s, d) => {
      // random-walk proximity to the 'signup' seed: teleport mass
      // restricted to the source set — q136's shared implementation and
      // unrolled oracle with a sources CTE
      import s.implicits._
      Graph.personalizedPageRank(cachedTransitionEdges(s, d),
        Seq("signup").toDF("node"), iterations = 10)
    }),
    "q145_training_pipeline_v3" -> ((s, d) => {
      // round capstone: inject boilerplate → corpus-frequency boilerplate
      // removal (q135) → chunk-level dedup on the CLEANED text (q134) →
      // frozen-weight logistic gate on the deduped text (q115) →
      // per-lang rollup. Each stage's determinism rule is the one its
      // standalone query proved; text hashes sum per lang so the full
      // surviving content participates in the check
      val docs = T(s, d, "documents")
      val injected = docs.select(col("doc_id"), col("lang"),
        when(col("doc_id") % 4 === 0,
          concat(lit(boilerplateHeader + " "), col("text")))
          .otherwise(col("text")).as("text"))
      val cleaned = Dedup.boilerplateRemove(injected, chunkTokens = 3,
          minDocFreq = 3)
        .select(col("doc_id"), col("clean_text").as("text"))
      val deduped = Dedup.chunkDedup(cleaned, chunkTokens = 3)
        .select(col("doc_id"), col("kept_text").as("text"))
      val keepers = TextAnalysis.qualityLogistic(deduped)
        .filter(col("keep") === 1).select("doc_id")
      deduped.join(keepers, Seq("doc_id"), "left_semi")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(md5Hash31(col("text"))).as("content_sum"))
    }),
    "q146_label_propagation" -> ((s, d) =>
      // community detection on the transition graph: 5 semi-synchronous
      // rounds of heaviest-incoming-vote label adoption (integer votes —
      // exact; smallest-label tiebreak); unrolled materialized oracle
      Graph.labelPropagation(cachedTransitionEdges(s, d),
        iterations = 5)),
    "q147_cheapest_paths" -> ((s, d) =>
      // most-probable transition paths from 'signup': Bellman-Ford over
      // -ln(transition probability) edge costs, 6 relaxation rounds
      Graph.cheapestPaths(cachedTransitionEdges(s, d),
        source = "signup", iterations = 6)),
    "q148_timed_funnel" -> ((s, d) =>
      // q141's funnel with a CONVERSION WINDOW: later steps count only
      // within 48 hours of the chosen first-step event (the anchor rides
      // the frontier's min-struct). Needs real timestamps for the
      // interval arithmetic → Tables.events
      Funnel.funnelCounts(Tables.events(s, d).filter(col("value") > 100),
        steps = Seq("view", "click", "purchase"),
        withinOfFirst = Some("48 HOURS"))),
    "q149_bm25_search" -> ((s, d) =>
      // BM25 keyword retrieval: rare term 'dup' (df≈25/500) dominates
      // the idf mix against two near-stop-words
      TextAnalysis.bm25Rank(T(s, d, "documents"),
        queryTerms = Seq("dup", "vector", "scan"), topK = 20)),
    "q150_session_funnel" -> ((s, d) =>
      // q141's funnel scoped to q51's 30-minute sessions: the step chain
      // cannot cross a session boundary. Real timestamps → Tables.events
      Funnel.sessionFunnelCounts(Tables.events(s, d),
        steps = Seq("view", "click", "purchase"))),
    "q151_frame_sample" -> ((s, d) => {
      val fr = Multimodal.frameSample(
        Multimodal.synthesize(s, T(s, d, "documents").select("doc_id"),
          "doc_id"), fps = 30.0, featureDims = 4)
      val fcols = (0 until 4).map(i =>
        element_at(col("frame_features"), i + 1).as(s"f$i"))
      fr.select(Seq(col("media_id"), col("frame_no"),
        col("ts_ms")) ++ fcols: _*)
    }),
    "q152_resize_plan" -> ((s, d) =>
      Multimodal.resizePlan(
        Multimodal.synthesize(s, T(s, d, "documents").select("doc_id"),
          "doc_id"), maxSide = 256)),
    "q273_image_ahash" -> ((s, d) =>
      // perceptual average-hash over REAL decoded pixels: ImageIO PNG
      // decode → integer 8×8 nearest-neighbor downsample → integer
      // grayscale → exact mean-threshold bits packed into two 32-bit
      // lanes (the binary-quant code shape); map-only per image, and
      // the oracle replays every bit from the pattern closed form
      Multimodal.imageAHash(
        Multimodal.synthesizePng(s, T(s, d, "documents").select("doc_id"),
          "doc_id"))
        .drop("decode_error")), // clean fixture — census is q282's job
    "q274_perceptual_dup_groups" -> ((s, d) =>
      // perceptual image dedup: patternMod injects byte-identical image
      // content under distinct media ids (the re-hosted-copy shape);
      // identical pixels ⇒ identical aHash, so duplicate groups are one
      // hash-groupBy over the two 32-bit lanes — the image twin of q18's
      // exact text dedup, with the decode tier real end to end
      Multimodal.imageAHash(
        Multimodal.synthesizePng(s, T(s, d, "documents").select("doc_id"),
          "doc_id", patternMod = 10))
        .groupBy(col("ahash_hi"), col("ahash_lo"))
        .agg(count(lit(1)).as("n_copies"),
          min(col("media_id")).as("rep_id"))
        .filter(col("n_copies") >= 2)),
    "q275_audio_features" -> ((s, d) =>
      // REAL audio codec tier: javax.sound.sampled WAV decode (16-bit LE
      // mono PCM, header-derived sample rate) → exact integer corpus-
      // filter features (peak, energy proxy, strict zero crossings);
      // non-audio blobs never deserialize (metadata-only kind filter)
      Multimodal.decodeWavFeatures(
        Multimodal.synthesizeWav(s, T(s, d, "documents").select("doc_id"),
          "doc_id"))
        .drop("decode_error")), // clean fixture — census is q282's job
    "q281_copurchase_partners" -> ((s, d) => {
      // "customers who bought A also bought B": distinct (cust, part)
      // baskets, deterministic lowest-id cap at 20 items/cust BEFORE
      // pairing (hot-key pair explosion bounded at C(20,2) regardless
      // of skew), unordered pair support, symmetric top-3 partners per
      // part via GroupedTopK (ints only — no round-before-rank needed)
      val baskets = T(s, d, "lineitem")
        .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      val pairs = Graph.coOccurrencePairs(baskets, "cust", "part",
        maxPerKey = 20)
      // symmetrize with a both-directions explode, NOT a self-union: a
      // union of two selects over `pairs` plans the whole mining subtree
      // TWICE (r12 verdict finding); the generator doubles rows off ONE
      // subtree instead
      val sym = pairs.select(explode(array(
          struct(col("item_a").as("part"), col("item_b").as("partner")),
          struct(col("item_b").as("part"), col("item_a").as("partner"))))
          .as("pp"), col("n_keys"))
        .select(col("pp.part").as("part"), col("pp.partner").as("partner"),
          col("n_keys"))
      graft.plans.TopK.perGroup(sym, Seq("part"),
        Seq(("n_keys", true), ("partner", false)), 3)
    }),
    "q282_decode_census" -> ((s, d) => {
      // the quarantine lane end to end (VERDICT r11's production
      // blocker): every 5th blob is garbage bytes; the codec tiers emit
      // (null metrics, decode_error) rows instead of crashing the job 4×,
      // and the census reports the bad-row count per modality — the
      // honest-accounting report a 100 TB decode run ships with
      val ids = T(s, d, "documents").select("doc_id")
      val img = Multimodal.imageQualityRaw(Multimodal.withCorruptedBlobs(
        Multimodal.synthesizePng(s, ids, "doc_id"), everyNth = 5))
      val aud = Multimodal.decodeWavFeatures(Multimodal.withCorruptedBlobs(
        Multimodal.synthesizeWav(s, ids, "doc_id"), everyNth = 5))
      Multimodal.decodeCensus(
        img.select(lit("image").as("modality"), col("decode_error"))
          .unionAll(
            aud.select(lit("audio").as("modality"), col("decode_error"))),
        groupCols = Seq("modality"))
    }),
    "q283_jpeg_geometry" -> ((s, d) =>
      // JPEG through the same decode tier (ImageIO sniffs the container —
      // no per-format dispatch): lossy pixels are deterministic per JVM
      // but not closed-form, so the oracle checks what IS exact — every
      // JPEG decodes (no quarantine rows) and the decoded geometry is the
      // synth closed form
      Multimodal.imageQualityRaw(
        Multimodal.synthesizeJpeg(s, T(s, d, "documents").select("doc_id"),
          "doc_id"))
        .filter(col("decode_error").isNull)
        .select(col("media_id"), col("width"), col("height"))),
    "q290_video_scene_cuts" -> ((s, d) => {
      // shot-boundary detection over REAL decoded MJPEG-in-AVI frames
      // (q278's stub-feature successor): frames within a scene are
      // byte-identical JPEGs, so their decoded (gray_sum, pixel_checksum)
      // are EXACTLY equal and a cut is any consecutive-frame metric
      // change — the detector sees only decoded pixels, the oracle
      // replays the closed-form scene grid (cuts at k % sceneLen = 0)
      val fr = Multimodal.decodeAviFrames(
        Multimodal.synthesizeAvi(s, T(s, d, "documents").select("doc_id"),
          "doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_no"))
      fr.select(col("media_id"), col("gray_sum"), col("pixel_checksum"),
          lag(col("gray_sum"), 1).over(w).as("pg"),
          lag(col("pixel_checksum"), 1).over(w).as("pc"))
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          coalesce(sum((col("pg").isNotNull &&
            (col("gray_sum") =!= col("pg") ||
              col("pixel_checksum") =!= col("pc"))).cast("long")), lit(0L))
            .as("n_cuts"))
    }),
    "q291_video_decode_census" -> ((s, d) => {
      // corrupt-container quarantine through the video demux: every 5th
      // blob is garbage bytes (no RIFF header) — the bounds-checked
      // demux throws, the tier emits ONE (null-metrics, decode_error)
      // row for the whole video, frames roll up per video, and the
      // census reports the honest bad-container count
      val fr = Multimodal.decodeAviFrames(Multimodal.withCorruptedBlobs(
        Multimodal.synthesizeAvi(s, T(s, d, "documents").select("doc_id"),
          "doc_id"), everyNth = 5))
      Multimodal.decodeCensus(
        fr.groupBy(col("media_id"))
          .agg(max(col("decode_error")).as("decode_error")))
    }),
    "q292_video_dup_groups" -> ((s, d) => {
      // video near-dup over REAL decoded frames — completes the
      // per-modality dedup grid (text minhash / image aHash / audio
      // fingerprint / VIDEO): patternMod injects byte-identical
      // re-uploads; a video's content fingerprint is the exact-integer
      // (Σ frame checksums, Σ frame gray-sums, n_frames) triple over
      // decoded pixels (byte-identical videos collide by construction,
      // distinct patterns collide with ~2^-64 odds). The lossy decoded
      // fingerprint itself stays OFF the output (q283's JPEG
      // discipline) — groups report rep/copies/frames only
      val fr = Multimodal.decodeAviFrames(
        Multimodal.synthesizeAvi(s, T(s, d, "documents").select("doc_id"),
          "doc_id", patternMod = 10))
      fr.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("pixel_checksum")).as("__fp"),
          sum(col("gray_sum")).as("__fp2"))
        .groupBy(col("__fp"), col("__fp2"), col("n_frames"))
        .agg(min(col("media_id")).as("rep_id"),
          count(lit(1)).as("n_copies"))
        .filter(col("n_copies") >= 2)
        .select(col("rep_id"), col("n_copies"), col("n_frames"))
    }),
    "q295_image_neardup_indexed" -> ((s, d) => {
      // the per-modality dedup grid at the INDEX tier for images:
      // multi-index Hamming LSH over the 64-bit aHash (bands of 16 bits,
      // equi-join candidate generation, exact bit_count verify). The
      // pigeonhole theorem (maxDist < bands ⇒ some band matches exactly)
      // makes the banded probe EQUAL to the all-pairs Hamming filter —
      // which is exactly what the oracle replays, so a band-extraction
      // bug or a lost candidate breaks the row hash
      val docs = T(s, d, "documents").select("doc_id")
      val name = s"ahash_idx_${tagFor(d)}"
      if (!s.catalog.tableExists(s"${name}_bands"))
        Multimodal.buildAHashIndex(
          Multimodal.synthesizePng(s,
            docs.filter(col("doc_id") % 2 === 0), "doc_id",
            patternMod = 5),
          name, s"/tmp/graft_clusters/ahash_${tagFor(d)}", bands = 4)
      Multimodal.probeAHashIndex(
        Multimodal.synthesizePng(s,
          docs.filter(col("doc_id") % 2 === 1), "doc_id",
          patternMod = 5),
        name, maxDist = 3)
    }),
    "q298_image_neardup_pairs" -> ((s, d) =>
      // the media ingest loop's step-2 primitive standalone: within-
      // corpus perceptual pairs via the banded self-join + exact
      // bit_count verify — pigeonhole makes it EQUAL to the all-pairs
      // Hamming filter the oracle replays (shared aHash CTE)
      Multimodal.ahashNearDupPairs(
        Multimodal.imageAHash(
          Multimodal.synthesizePng(s, T(s, d, "documents")
            .select("doc_id"), "doc_id", patternMod = 5))
          .filter(col("decode_error").isNull),
        maxDist = 3)),
    "q299_reference_lm_filter" -> ((s, d) => {
      // CCNet's actual shape: LM trained on a REFERENCE corpus (even
      // ids — the "Wikipedia" slice) scores a disjoint TARGET corpus
      // (odd ids) with add-one smoothing; OOV tokens — impossible in
      // the in-corpus q96 form — carry the unknown-slot probability and
      // surface as their own tripwire column
      val docs = T(s, d, "documents")
      TextAnalysis.referenceCrossEntropy(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    }),
    "q300_perceptron_train" -> ((s, d) => {
      // TRAIN the quality/language classifier on the cluster (q115
      // scores with frozen weights; this learns them): batch perceptron
      // over integer char-class features, label = lang=='en' — every
      // round is exact int64 (no float GD drift to compound), one
      // partial-aggregated scan per round, weights ride as literals
      val f = T(s, d, "documents").select(
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
        lit(1L).as("x0"),
        tokenCount(col("text")).cast("long").as("x1"),
        col("n_chars").as("x2"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("x3"),
        (length(col("text")) -
          length(regexp_replace(lower(col("text")), "[aeiou]", "")))
          .cast("long").as("x4"))
      TextAnalysis.perceptronTrain(f, "y",
        Seq("x0", "x1", "x2", "x3", "x4"), rounds = 6)
    }),
    "q301_preference_leaderboard" -> ((s, d) => {
      // post-training preference data shape: pairwise comparisons
      // (within each order, the higher-quantity part "beats" the other;
      // ties skipped) → head-to-head matchups → Copeland + Borda
      // leaderboard, all int64 (iterative Elo/BT float fits can't replay
      // cross-engine; the voting-theory pair can — and is what eval
      // leaderboards actually publish)
      val items = T(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity")).as("q"))
      val a = items.select(col("ok"), col("pk").as("pk_a"), col("q").as("q_a"))
      val b = items.select(col("ok"), col("pk").as("pk_b"), col("q").as("q_b"))
      val cmp = a.join(b, Seq("ok"))
        .filter(col("pk_a") < col("pk_b") && col("q_a") =!= col("q_b"))
        .select(
          when(col("q_a") > col("q_b"), col("pk_a")).otherwise(col("pk_b"))
            .as("winner"),
          when(col("q_a") > col("q_b"), col("pk_b")).otherwise(col("pk_a"))
            .as("loser"))
      Preference.leaderboard(cmp)
    }),
    "q302_k_anonymity" -> ((s, d) =>
      // release-gate privacy audit: k-anonymity census over the
      // (lang, source, length-bucket) quasi-identifier tuple — group
      // sizes in ONE map-side-combined pass, each threshold a 1-row
      // aggregate over the QI-sized relation, suppression cost in
      // integer ppm
      Redact.kAnonymityReport(
        T(s, d, "documents").select(col("lang"), col("source"),
          expr("n_chars DIV 100").as("len_bucket")),
        Seq("lang", "source", "len_bucket"))),
    "q303_generalization_ladder" -> ((s, d) =>
      // the enforcement half of q302: widen the length bucket by powers
      // of two and pick the smallest level whose k=5 suppression cost is
      // zero (fallback: the coarsest level, residual suppression
      // reported) — corpus scanned once at the finest width, coarser
      // levels reaggregate from the QI-sized relation (buckets nest
      // exactly under integer DIV)
      Redact.generalizationLadder(T(s, d, "documents"),
        Seq("lang", "source"), "n_chars", baseWidth = 100, levels = 4,
        k = 5)),
    "q304_windowed_ppmi" -> ((s, d) =>
      // the count-based embedding preprocessing matrix (SVD-PPMI):
      // positional ±4-window co-occurrence pairs generated ARRAY-SIDE
      // (no self-join, no corpus window fn), self-consistent marginals
      // off the same pair relation, PPMI rounded before the per-word
      // GroupedTopK — a stop-word's million collocates never exceed k
      // in any buffer
      TextAnalysis.windowedPpmi(T(s, d, "documents"), window = 4,
        minCount = 5, k = 5)),
    "q305_bitext_mining" -> ((s, d) => {
      // CCMatrix-style aligned-pair mining between two embedding spaces
      // (even ids ↔ odd ids): forward top-4 candidates by rounded
      // cosine, hubness-normalizing ratio margin, mutual margin-best at
      // threshold 1.0 — block-grid cross-score (no corpus broadcast),
      // GroupedTopK everywhere after it
      val emb = T(s, d, "embeddings")
      Similarity.marginMutualPairs(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), k = 4, threshold = 1.0)
    }),
    "q306_multimodal_packing" -> ((s, d) => {
      // VLM sequence composition: image-bearing docs (the media fixture's
      // kind convention — doc_id%3==0 carries one image) charge a fixed
      // 64-patch-token cost, the exact two-level-prefix packer packs the
      // combined cost, and the census splits every 256-token window's
      // fill into image vs text tokens — the dial that keeps the vision
      // share from starving the language loss
      val docs = T(s, d, "documents")
      val media = Multimodal.synthesize(s, docs.select("doc_id"), "doc_id")
      val withImg = docs
        .join(media.select(col("media_id").as("doc_id"),
          (col("kind") === "image").cast("long").as("n_imgs")), Seq("doc_id"))
        .select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_toks"), col("n_imgs"))
      Packing.multimodalWindowCensus(withImg, "n_toks", "n_imgs",
        imgTokens = 64, capacity = 256)
    }),
    "q307_l_diversity" -> ((s, d) =>
      // the attribute-disclosure audit k-anonymity (q302) misses: a QI
      // group whose rows all share one lang re-identifies the attribute
      // however large the group is — per threshold, groups/rows spanning
      // fewer than l distinct sensitive values, suppression cost in
      // integer ppm; one corpus groupBy on (QI, lang), cell-sized after
      Redact.lDiversityReport(
        T(s, d, "documents").select(col("lang"), col("source"),
          expr("n_chars DIV 200").as("len_bucket")),
        Seq("source", "len_bucket"), "lang")),
    "q308_t_closeness" -> ((s, d) =>
      // the skew audit l-diversity misses: per-group total-variation
      // distance from the corpus lang distribution, EXACT via the common
      // denominator n_g·N in decimal(38,0) (int64 overflows past
      // N ≈ 3·10⁹ rows); per ppm threshold, violating groups/rows + max
      Redact.tClosenessReport(
        T(s, d, "documents").select(col("lang"), col("source"),
          expr("n_chars DIV 200").as("len_bucket")),
        Seq("source", "len_bucket"), "lang")),
    "q309_blocklist_census" -> ((s, d) =>
      // the C4/RefinedWeb bad-phrase release gate: per-phrase documents
      // hit, total non-overlapping occurrences, incidence in integer
      // ppm; text consumed in ONE map-only projection (exploded rows
      // carry only (phrase, hits)), |phrases|-sized rollup after
      TextAnalysis.blocklistCensus(T(s, d, "documents"),
        blocklistPhrases)),
    "q310_blocklist_ac" -> ((s, d) =>
      // the SCALE tier of q309: one broadcast Aho–Corasick pass per
      // document regardless of |phrases| (the expression tier pays one
      // replace per phrase); the fixture phrases are border-free, so
      // overlapping-count ≡ replace-count and the pair shares one oracle
      TextAnalysis.blocklistCensusAC(T(s, d, "documents"),
        blocklistPhrases)),
    "q311_integer_kmeans" -> ((s, d) =>
      // on-cluster k-means TRAINING, exactly verified: micro-unit
      // quantized coordinates, integer squared-L2, truncating
      // element-wise mean, ties to the lowest cluster — the oracle
      // replays all 3 Lloyd rounds as unrolled CTEs and both engines
      // agree bit-for-bit (the q300 perceptron discipline, now for the
      // clustering family that seeds every IVF index)
      Similarity.integerKMeansReport(T(s, d, "embeddings"),
        k = 4, rounds = 3)),
    "q312_release_gate" -> ((s, d) =>
      // governance capstone (v14): per-source release scorecard fusing
      // PII incidence, blocklist incidence, worst k-anonymity group and
      // lang diversity — ONE text-consuming pass into a (source, bucket,
      // lang) cell aggregate, gates applied on the cell relation; the
      // verdict a supplier review reads before a corpus ships
      Redact.releaseGateReport(piiInjectedDocs(s, d), blocklistPhrases)),
    "q313_kcenter_coreset" -> ((s, d) =>
      // geometric data pruning: greedy k-center (Gonzalez 2-approx) over
      // the portable-hash-bounded pool — exact integer distances, ties
      // to the lowest id, the non-increasing min_dist_sq sequence ends
      // at the covering radius²; each greedy round is one TakeOrdered(1)
      // job over the checkpointed pool, never the corpus
      Similarity.kCenterCoreset(T(s, d, "embeddings"), k = 6,
        poolPercent = 20)),
    "q314_image_phash" -> ((s, d) =>
      // perceptual DCT hash (pHash) over REAL decoded pixels — the
      // production tier of perceptual image dedup (aHash is the cheap
      // tier and is blind to clipped-brightness shifts). PNG decode →
      // integer 8×8 grid → exact integer 2-D DCT-II against the
      // HARDCODED micro-unit cosine table (no runtime cos on either
      // engine) → bits from the strict lower-median threshold over the
      // 63 AC coefficients, DC excluded; map-only per image, and the
      // oracle replays every bit from the pattern closed form
      Multimodal.imagePHash(
        Multimodal.synthesizePng(s, T(s, d, "documents").select("doc_id"),
          "doc_id"))
        .drop("decode_error")), // clean fixture — census is q282's job
    "q315_phash_neardup_pairs" -> ((s, d) =>
      // pHash near-dup pairs through the SAME banded Hamming machinery
      // as q298/q295 (band join, probe and persisted index lifecycle
      // are generic over any 64-bit hash in two 32-bit lanes — pHash
      // rides by column rename alone); pigeonhole (maxDist 3 < 4 bands)
      // makes the banded self-join EQUAL to the all-pairs Hamming
      // filter the oracle replays over the shared pHash CTE
      Multimodal.ahashNearDupPairs(
        Multimodal.phashAsHashRelation(
          Multimodal.imagePHash(
            Multimodal.synthesizePng(s, T(s, d, "documents")
              .select("doc_id"), "doc_id", patternMod = 5))),
        maxDist = 3)),
    "q316_bradley_terry" -> ((s, d) => {
      // model-based strength fit over the SAME comparison log as q301's
      // voting-theory leaderboard: 3 unrolled Hunter-MM rounds in int64
      // micro-units (per-term integer DIV then sum — order-independent,
      // so DuckDB replays every strength exactly; the q300/q311
      // discipline). Matchup-granular state; per-round joins broadcast
      // the items-sized strength relation
      val items = T(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity")).as("q"))
      val a = items.select(col("ok"), col("pk").as("pk_a"),
        col("q").as("q_a"))
      val b = items.select(col("ok"), col("pk").as("pk_b"),
        col("q").as("q_b"))
      val cmp = a.join(b, Seq("ok"))
        .filter(col("pk_a") < col("pk_b") && col("q_a") =!= col("q_b"))
        .select(
          when(col("q_a") > col("q_b"), col("pk_a")).otherwise(col("pk_b"))
            .as("winner"),
          when(col("q_a") > col("q_b"), col("pk_b")).otherwise(col("pk_a"))
            .as("loser"))
      Preference.bradleyTerryFit(cmp, rounds = 3)
    }),
    "q317_ppmi_power_iteration" -> ((s, d) =>
      // the factorization step after q304's SVD-PPMI matrix: dominant
      // direction by 3 unrolled power-iteration rounds over the
      // edge-list matrix — PPMI is 6-rounded so w = round(ppmi·1e6) is
      // exact int64 in both engines; matvec = equi-join + aggregate
      // (128-bit-exact sums), renorm = integer DIV by the round max;
      // per-round vocab-sized checkpoints, released on the next iterate
      TextAnalysis.ppmiPowerIteration(T(s, d, "documents"), window = 4,
        minCount = 2, rounds = 3)),
    "q323_ppmi_rank2" -> ((s, d) =>
      // rank-2 SVD-PPMI: direction 1 is q317's iterate bit-for-bit;
      // direction 2 re-iterates the HOTELLING-DEFLATED operator — the
      // rank-1 term is never materialized (u·uᵀ is dense vocab²), just
      // one vocab-sized projection join + broadcast scalars per round,
      // so the edge-list matvec plan is unchanged; all divisions
      // truncate toward zero via the sign-split spelling (Spark DIV vs
      // DuckDB // disagree on negatives, which direction 2 has)
      TextAnalysis.ppmiTopDirections(T(s, d, "documents"), window = 4,
        minCount = 2, rounds = 3, k = 2)),
    "q325_main_content" -> ((s, d) =>
      // DOM-aware main-content extraction ahead of every quality
      // stage: block segmentation on block-level tags, per-block
      // visible-text length + integer-exact link-density cut
      // (3·linkChars < textChars), kept blocks reassembled — ONE
      // codegen'd projection, nav/menu/footer boilerplate provably
      // dropped, body kept (plan-gated map-only)
      htmlFixture(s, d).select(col("doc_id"),
        size(Web.mainContentBlocks(col("html"))).as("n_blocks_kept"),
        Web.extractMainContent(col("html")).as("main_content"))),
    "q318_url_canonicalize" -> ((s, d) =>
      // crawl-pipeline URL normalization: case/default-port/trailing-
      // slash/fragment/tracking-param/param-order variants collapse to
      // one canonical string — pure regexp/split/sort column
      // expressions, one map-only projection, every rule replayed
      // byte-for-byte by the RE2 oracle
      urlFixture(s, d).select(col("doc_id"), col("url"),
        Web.canonicalizeUrl(col("url")).as("canonical_url"),
        Web.siteOf(col("url")).as("site"))),
    "q319_url_dedup" -> ((s, d) =>
      // URL-level dedup — the pass a crawl runs BEFORE any content
      // stage: group by canonical URL, keep the lowest id as
      // representative; no bytes compared at all
      Web.urlDedup(urlFixture(s, d))),
    "q320_audio_spectral_fp" -> ((s, d) =>
      // robust spectral audio hash over REAL decoded PCM: Walsh
      // (sequency) band correlations — exact int64, no runtime cos on
      // either engine — coded as adjacent-band deltas, so the hash is
      // volume-invariant and frequency-sensitive where the time-domain
      // energy profile of audioFingerprint (q296's key) is blind (both
      // pinned in MultimodalSpec); map-only per audio row, oracle
      // replays every band from the synth closed form
      Multimodal.audioSequencyFingerprint(
        Multimodal.synthesizeWav(s, T(s, d, "documents").select("doc_id"),
          "doc_id"))
        .drop("decode_error")), // clean fixture — census is q282's job
    "q322_video_neardup_robust" -> ((s, d) => {
      // ROBUST video near-dup — the tier the whole-video triple (q292)
      // cannot reach: every video gets a byte-level TRIMMED re-upload
      // (first 2 frames dropped, surviving frame bytes untouched),
      // which changes n_frames and both sums (q292 blind) but keeps the
      // frame-identity suffix. Per-frame exact decoded identity →
      // 2-frame sequence shingles → the generic minhash-LSH pair
      // pipeline. With sceneLen=3/drop=2 the copy loses exactly the
      // scene-0 within-scene shingle, so jaccard has the closed form
      // (k−1)/k over k distinct shingles — pure id arithmetic for the
      // oracle while Spark proves demux + per-frame decode + shingling
      // + banding + verify end to end. (The perceptual pHash twin has
      // no oracle ON PURPOSE: the synthetic pattern family is additive
      // in id, so scenes are brightness shifts — the one thing pHash
      // quotients away; MultimodalSpec pins that tier instead.)
      val base = Multimodal.synthesizeAvi(s,
        T(s, d, "documents").select("doc_id"), "doc_id")
      Multimodal.videoNearDupPairs(
        base.unionByName(Multimodal.trimVideoCopies(base,
          idOffset = 600000L, dropFrames = 2)),
        shingleLen = 2, numPerm = 64, bands = 32, threshold = 0.6)
    }),
    "q328_video_containment" -> ((s, d) => {
      // DEEP-trim clip detection — the edit class the jaccard tier
      // (q322) provably cannot reach: originals with n = id%10+4 ≥ 8
      // frames lose their first 6 (most of the video for small n), so
      // jaccard collapses to |c|/|o| < 0.6 while the copy's shingle
      // set stays a strict SUBSET of the original's → containment is
      // exactly 1.0; min-shingle anchoring guarantees the candidate
      // (the copy's min IS in the original's set), so the expected
      // pair set is pure id arithmetic
      val base = Multimodal.synthesizeAvi(s,
        T(s, d, "documents").select("doc_id")
          .filter(col("doc_id") % 10 >= 4), "doc_id")
      Multimodal.videoContainmentPairs(
        base.unionByName(Multimodal.trimVideoCopies(base,
          idOffset = 600000L, dropFrames = 6)),
        shingleLen = 2, threshold = 0.9)
    }),
    "q326_video_neardup_indexed" -> ((s, d) => {
      // incremental video dedup at the INDEX tier: the even originals'
      // frame-shingle surface persists once through the generic
      // hash-set index (bucketed sig + sets halves, in-place bucket
      // probe); the daily batch — trimmed re-uploads — pays only its
      // own decode. Same (k−1)/k jaccard closed form as q322, so the
      // expected pair set is pure id arithmetic
      val docs = T(s, d, "documents").select("doc_id")
      val name = s"videond_idx_${tagFor(d)}"
      val even = Multimodal.synthesizeAvi(s,
        docs.filter(col("doc_id") % 2 === 0), "doc_id")
      if (!s.catalog.tableExists(s"${name}_sig"))
        Multimodal.buildVideoNearDupIndex(even, name,
          s"/tmp/graft_clusters/videond_${tagFor(d)}")
      Multimodal.probeVideoNearDup(
        Multimodal.trimVideoCopies(even, idOffset = 600000L,
          dropFrames = 2), name)
        .select(col("__bid").as("batch_id"), col("__cid").as("corpus_id"))
    }),
    "q334_video_neardup_perceptual" -> ((s, d) => {
      // the PERCEPTUAL video tier graduates from unit pins to an
      // oracle (the r15 gap): the additive synthesizeAvi family made
      // scenes brightness shifts — the one thing pHash quotients away —
      // so pHash-distinctness oracles were unsound; the non-additive
      // TEXTURED family (binary 8-px cells, hash-mixed per scene) has
      // genuinely distinct DCT signatures. Fixture: every video
      // re-encoded at JPEG quality 0.5 — every frame's BYTES change
      // and decoded pixels drift (the exact tier catches zero pairs,
      // pinned), while each frame's 64 pHash bits survive EXACTLY
      // (binary per-block-uniform luma → recompression is an affine
      // gray remap, and pHash is affine-invariant by construction) —
      // so the pair set is all videos at jaccard exactly 1.0
      val base = Multimodal.synthesizeAviTextured(s,
        T(s, d, "documents").select("doc_id"), "doc_id")
      Multimodal.videoNearDupPairsPerceptual(
        base.unionByName(Multimodal.reencodeVideoCopies(base,
          idOffset = 600000L, quality = 0.5f)),
        shingleLen = 2, numPerm = 64, bands = 32, threshold = 0.6)
    }),
    "q339_video_containment_indexed" -> ((s, d) => {
      // incremental DEEP-TRIM clip detection at the INDEX tier: the
      // even originals' anchor-key surface persists once through the
      // generic hash-set containment index; the deep-trimmed batch
      // (jaccard |c|/|o| < 0.6 — q322's documented miss) probes with
      // only its own decode and scores containment exactly 1.0
      val docs = T(s, d, "documents").select("doc_id")
      val name = s"videoct_idx_${tagFor(d)}"
      val even = Multimodal.synthesizeAvi(s,
        docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 >= 4),
        "doc_id")
      if (!s.catalog.tableExists(s"${name}_keys"))
        Multimodal.buildVideoContainmentIndex(even, name,
          s"/tmp/graft_clusters/videoct_${tagFor(d)}")
      Multimodal.probeVideoContainment(
        Multimodal.trimVideoCopies(even, idOffset = 600000L,
          dropFrames = 6), name)
        .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
          col("containment"))
    }),
    "q337_image_tile_neardup" -> ((s, d) => {
      // LIGHT-crop image dedup — jaccard over tile-pHash sets: one
      // cut tile column keeps (tW−1)·tH of tW·tH tiles pixel-exact →
      // j = (tW−1)·tH/(tW·tH), caught at 0.6 iff tW ≥ 3; heavy crops
      // fall to the containment tier (q333) — both off ONE tile pass
      val base = Multimodal.synthesizePngTextured(s,
        T(s, d, "documents").select("doc_id"), "doc_id")
      Multimodal.imageTileNearDupPairs(
        base.unionByName(Multimodal.cropImageCopies(base,
          idOffset = 600000L, dropLeftTiles = 1, dropTopTiles = 0)),
        tilePx = 16, numPerm = 64, bands = 32, threshold = 0.6)
    }),
    "q338_image_tile_indexed" -> ((s, d) => {
      // incremental crop-aware image dedup at the INDEX tier — the
      // image member of the generic hash-set index family: the even
      // originals' tile surface persists once, the cropped batch pays
      // only its own decode; same (tW−1)/tW closed form as q337
      val docs = T(s, d, "documents").select("doc_id")
      val name = s"imgtile_idx_${tagFor(d)}"
      val even = Multimodal.synthesizePngTextured(s,
        docs.filter(col("doc_id") % 2 === 0), "doc_id")
      if (!s.catalog.tableExists(s"${name}_sig"))
        Multimodal.buildImageTileIndex(even, name,
          s"/tmp/graft_clusters/imgtile_${tagFor(d)}")
      Multimodal.probeImageTileNearDup(
        Multimodal.cropImageCopies(even, idOffset = 600000L,
          dropLeftTiles = 1, dropTopTiles = 0), name)
        .select(col("__bid").as("batch_id"), col("__cid").as("corpus_id"))
    }),
    "q333_image_crop_containment" -> ((s, d) => {
      // CROP-ROBUST image re-upload detection — the edit class both
      // whole-image hashes miss entirely (any crop moves every 8×8
      // sample point; pinned in MultimodalSpec): fixed-grid 16×16 tile
      // pHashes make the image a SET of tile identities, and a crop
      // aligned to the grid keeps its tiles pixel-identical → the
      // copy's tile set is a strict subset of the original's →
      // containment exactly 1.0 (q328's deep-trim logic applied to
      // images). The textured (hash-mixed) PNG family guarantees
      // distinct images share no tile; the original-in-copy direction
      // scores (tW−1)(tH−1)/(tW·tH) ≤ 0.6 < 0.9 and drops.
      val base = Multimodal.synthesizePngTextured(s,
        T(s, d, "documents").select("doc_id"), "doc_id")
      Multimodal.imageCropContainmentPairs(
        base.unionByName(Multimodal.cropImageCopies(base,
          idOffset = 600000L, dropLeftTiles = 1, dropTopTiles = 1)),
        tilePx = 16, threshold = 0.9)
    }),
    "q329_audio_neardup_trim" -> ((s, d) => {
      // TRIM-ROBUST audio near-dup — the last corner of the
      // per-modality edit-robustness grid (text spans/containment,
      // video q322/q328, image pHash q314): both whole-clip audio
      // fingerprints anchor bands at sample 0, so a trimmed copy
      // shifts every band and misses (pinned in MultimodalSpec); the
      // windowed identity keeps the suffix window hashes bit-identical.
      // Fixture: every audio clip gets a byte-level copy missing its
      // first 16 samples (= one window), so the copy's window-hash set
      // is the original's minus window 0 → j = (k−1)/k over
      // k = n div 16 complete windows — pure id arithmetic for the
      // oracle (the hash-mixed synth family makes cross-clip window
      // collisions impossible; the additive q296/q320 family is
      // degenerate here — see mixedSample's scaladoc)
      val base = Multimodal.synthesizeWavMixed(s,
        T(s, d, "documents").select("doc_id"), "doc_id")
      Multimodal.audioNearDupPairsWindowed(
        base.unionByName(Multimodal.trimWavCopies(base,
          idOffset = 600000L, dropSamples = 16)),
        windowSamples = 16, shingleLen = 1, numPerm = 64, bands = 32,
        threshold = 0.6)
    }),
    "q335_audio_containment" -> ((s, d) => {
      // DEEP-TRIM audio — q328's containment logic on the windowed
      // identity: dropping 2 of k ≤ 4 windows collapses jaccard to
      // (k−2)/k ≤ 1/2 < 0.6 (the q329 tier's documented miss, pinned
      // empty in MultimodalSpec) while the copy's window set stays a
      // strict subset → containment exactly 1.0; min-window anchoring
      // guarantees the candidate
      val base = Multimodal.synthesizeWavMixed(s,
        T(s, d, "documents").select("doc_id"), "doc_id")
      Multimodal.audioContainmentPairs(
        base.unionByName(Multimodal.trimWavCopies(base,
          idOffset = 600000L, dropSamples = 32)),
        windowSamples = 16, threshold = 0.9)
    }),
    "q336_audio_neardup_overlap" -> ((s, d) => {
      // OVERLAPPING-HOP lanes — the production fix for the fixed-grid
      // alignment trade: a HALF-window trim (8 samples) shifts every
      // single-lane window so q329's tier misses it entirely (pinned),
      // but with lanes {0, 8} the copy's lane-0 windows ARE the
      // original's lane-8 windows — jaccard has the closed form
      // (s−1)/s with s = n div 16 + (n−8) div 16, pure id arithmetic
      val base = Multimodal.synthesizeWavMixed(s,
        T(s, d, "documents").select("doc_id"), "doc_id")
      Multimodal.audioNearDupPairsOverlapped(
        base.unionByName(Multimodal.trimWavCopies(base,
          idOffset = 600000L, dropSamples = 8)),
        windowSamples = 16, numPerm = 64, bands = 32, threshold = 0.6)
    }),
    "q330_audio_neardup_indexed" -> ((s, d) => {
      // incremental audio dedup at the INDEX tier: the even originals'
      // windowed-identity surface persists once through the generic
      // hash-set index; the daily batch — trimmed re-uploads — pays
      // only its own decode. Same (k−1)/k closed form as q329.
      val docs = T(s, d, "documents").select("doc_id")
      val name = s"audiownd_idx_${tagFor(d)}"
      val even = Multimodal.synthesizeWavMixed(s,
        docs.filter(col("doc_id") % 2 === 0), "doc_id")
      if (!s.catalog.tableExists(s"${name}_sig"))
        Multimodal.buildAudioNearDupIndex(even, name,
          s"/tmp/graft_clusters/audiownd_${tagFor(d)}")
      Multimodal.probeAudioNearDup(
        Multimodal.trimWavCopies(even, idOffset = 600000L,
          dropSamples = 16), name)
        .select(col("__bid").as("batch_id"), col("__cid").as("corpus_id"))
    }),
    "q321_audio_spectral_dup_indexed" -> ((s, d) => {
      // audio near-dup against a STANDING corpus through the SAME
      // generic fingerprint index as q296, keyed on the ROBUST spectral
      // hash instead of exact bytes — the index lifecycle is key-
      // agnostic, so the spectral tier gets build/probe/append/delete
      // for free; with patternMod=5, n_samples = pid+20 is injective so
      // the oracle is pure id arithmetic while Spark proves decode +
      // Walsh bands + bucketed index end to end
      val docs = T(s, d, "documents").select("doc_id")
      val name = s"audiosfp_idx_${tagFor(d)}"
      val keys = Seq("spectral_fp", "n_samples")
      if (!s.catalog.tableExists(s"${name}_fp"))
        Dedup.buildFingerprintIndex(
          Multimodal.audioSequencyFingerprint(Multimodal.synthesizeWav(s,
            docs.filter(col("doc_id") % 2 === 0), "doc_id",
            patternMod = 5)).filter(col("decode_error").isNull),
          name, s"/tmp/graft_clusters/audiosfp_${tagFor(d)}", keys,
          "media_id")
      Dedup.probeFingerprintIndex(
        Multimodal.audioSequencyFingerprint(Multimodal.synthesizeWav(s,
          docs.filter(col("doc_id") % 2 === 1), "doc_id",
          patternMod = 5)).filter(col("decode_error").isNull),
        name, keys, "media_id")
    }),
    "q296_audio_dup_indexed" -> ((s, d) => {
      // exact audio dedup against a STANDING corpus at batch cost: the
      // generic fingerprint index keyed on (fingerprint, n_samples) over
      // REAL decoded PCM — with patternMod=5, n_samples = pid+20 is
      // unique per pattern, so matches ⇔ equal pattern id: the oracle is
      // pure id arithmetic while the Spark side proves decode + index
      val docs = T(s, d, "documents").select("doc_id")
      val name = s"audiofp_idx_${tagFor(d)}"
      val keys = Seq("fingerprint", "n_samples")
      if (!s.catalog.tableExists(s"${name}_fp"))
        Dedup.buildFingerprintIndex(
          Multimodal.audioFingerprint(Multimodal.synthesizeWav(s,
            docs.filter(col("doc_id") % 2 === 0), "doc_id",
            patternMod = 5)).filter(col("decode_error").isNull),
          name, s"/tmp/graft_clusters/audiofp_${tagFor(d)}", keys,
          "media_id")
      Dedup.probeFingerprintIndex(
        Multimodal.audioFingerprint(Multimodal.synthesizeWav(s,
          docs.filter(col("doc_id") % 2 === 1), "doc_id",
          patternMod = 5)).filter(col("decode_error").isNull),
        name, keys, "media_id")
    }),
    "q297_video_dup_indexed" -> ((s, d) => {
      // the video edition: keys are the decoded per-video metric triple
      // (n_frames, Σ checksums, Σ gray-sums) — n_frames = pid+4 is
      // unique per pattern at patternMod=5, so matches ⇔ equal pattern
      val docs = T(s, d, "documents").select("doc_id")
      val name = s"videofp_idx_${tagFor(d)}"
      val keys = Seq("n_frames", "fp_a", "fp_b")
      def fps(slice: DataFrame) = Multimodal.decodeAviFrames(
        Multimodal.synthesizeAvi(s, slice, "doc_id", patternMod = 5))
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("pixel_checksum")).as("fp_a"),
          sum(col("gray_sum")).as("fp_b"))
      if (!s.catalog.tableExists(s"${name}_fp"))
        Dedup.buildFingerprintIndex(
          fps(docs.filter(col("doc_id") % 2 === 0)),
          name, s"/tmp/graft_clusters/videofp_${tagFor(d)}", keys,
          "media_id")
      Dedup.probeFingerprintIndex(
        fps(docs.filter(col("doc_id") % 2 === 1)), name, keys, "media_id")
    }),
    "q294_video_frame_sample" -> ((s, d) =>
      // the decode-cost lever: demux every chunk (header arithmetic)
      // but decode only every 2nd frame's JPEG — the video analogue of
      // q151's every-Nth selection, now over a REAL container; sampled
      // counts and the last sampled index have closed forms
      Multimodal.decodeAviFrames(
        Multimodal.synthesizeAvi(s, T(s, d, "documents").select("doc_id"),
          "doc_id"), everyKth = 2)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_sampled"),
          max(col("frame_no")).cast("long").as("last_frame"))),
    "q293_video_meta_audit" -> ((s, d) => {
      // q280's video twin: declared duration vs DECODED truth. The
      // synth writes duration = n_frames·1000/fps (fps=4 → 250·n);
      // every 7th video's declaration lies (+1000 ms) — exactly those
      // surface where the declaration disagrees with 250 × the demuxed
      // frame count (exact integer comparison, no division)
      val media = Multimodal.withCorruptedMeta(
        Multimodal.synthesizeAvi(s, T(s, d, "documents").select("doc_id"),
          "doc_id"), everyNth = 7)
      val decoded = Multimodal.decodeAviFrames(media)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
      media.filter(col("kind") === "video")
        .select(col("media_id"),
          col("meta.duration_ms").as("declared_duration_ms"))
        .join(decoded, Seq("media_id"))
        .filter(col("declared_duration_ms") =!= col("n_frames") * 250L)
    }),
    "q279_image_quality" -> ((s, d) => {
      // vision-corpus quality filter over REAL decoded pixels: the codec
      // tier emits exact integers only (Σg, Σg², nano-snapped histogram
      // Σc·ln c); brightness/contrast/entropy assemble HERE with Spark's
      // round so the cross-engine float discipline stays in the query
      // layer — the drop-dark/drop-flat gate before an embedding stage
      val raw = Multimodal.imageQualityRaw(
        Multimodal.synthesizePng(s, T(s, d, "documents").select("doc_id"),
          "doc_id"))
      val n = (col("width").cast("long") * col("height")).as("__n")
      raw.select(col("media_id"), col("width"), col("height"),
          col("gray_sum"), col("gray_sq_sum"), col("ent_nano"), n)
        .select(col("media_id"), col("width"), col("height"),
          round(col("gray_sum").cast("double") / col("__n"), 6)
            .as("gray_mean"),
          round(Multimodal.grayContrast(col("__n"), col("gray_sum"),
              col("gray_sq_sum")), 6)
            .as("gray_contrast"),
          round(log(col("__n").cast("double")) -
            (col("ent_nano").cast("double") / lit(1e9)) / col("__n"), 6)
            .as("gray_entropy"))
    }),
    "q280_meta_mismatch" -> ((s, d) => {
      // ingest-integrity audit: declared metadata geometry vs the
      // DECODED truth — the corrupted-declaration rows (width lies by
      // +5 on every 7th image id) must surface, nothing else; decode
      // geometry comes from the real codec tier
      val media = Multimodal.withCorruptedMeta(
        Multimodal.synthesizePng(s, T(s, d, "documents").select("doc_id"),
          "doc_id"), everyNth = 7)
      val declared = Multimodal.metadataScan(media)
        .select(col("media_id"), col("width").as("declared_width"),
          col("height").as("declared_height"))
      Multimodal.imageQualityRaw(media)
        .select(col("media_id"), col("width").as("decoded_width"),
          col("height").as("decoded_height"))
        .join(declared, Seq("media_id"))
        .filter(col("decoded_width") =!= col("declared_width") ||
          col("decoded_height") =!= col("declared_height"))
        .select(col("media_id"), col("declared_width"),
          col("decoded_width"), col("declared_height"),
          col("decoded_height"))
    }),
    "q277_audio_dup_groups" -> ((s, d) =>
      // audio near-dup via the chromaprint-shaped energy-delta
      // fingerprint over REAL decoded PCM — completes the per-modality
      // dedup grid (text minhash / image aHash / audio fingerprint);
      // patternMod injects byte-identical re-uploads, groups are one
      // hash-groupBy over (fingerprint, n_samples)
      Multimodal.audioFingerprint(
        Multimodal.synthesizeWav(s, T(s, d, "documents").select("doc_id"),
          "doc_id", patternMod = 10))
        .groupBy(col("fingerprint"), col("n_samples"))
        .agg(count(lit(1)).as("n_copies"),
          min(col("media_id")).as("rep_id"))
        .filter(col("n_copies") >= 2)),
    "q278_scene_changes" -> ((s, d) => {
      // shot-boundary detection plumbing over the frame relation: L1
      // distance between consecutive frames' features (one per-video
      // window lag — frames never cross videos), cut iff round(L1,6) >
      // 1.0. Features come from the (stubbed) frame decode; the boundary
      // logic, windowing, and rollup are the real pipeline shape
      val fr = Multimodal.frameSample(
        Multimodal.synthesize(s, T(s, d, "documents").select("doc_id"),
          "doc_id"), fps = 30.0, featureDims = 4)
        .select(Seq(col("media_id"), col("frame_no")) ++
          (0 until 4).map(i =>
            element_at(col("frame_features"), i + 1).as(s"f$i")): _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_no"))
      val lagged = fr.select(Seq(col("media_id"), col("frame_no")) ++
        (0 until 4).flatMap(i => Seq(col(s"f$i"),
          lag(col(s"f$i"), 1).over(w).as(s"p$i"))): _*)
      val l1 = (0 until 4).map(i => abs(col(s"f$i") - col(s"p$i")))
        .reduce(_ + _)
      lagged
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          coalesce(sum((round(l1, 6) > 1.0).cast("long")), lit(0L))
            .as("n_cuts"))
    }),
    "q153_duplicate_spans" -> ((s, d) =>
      // the mined span relation is session-cached (dupSpansPath) — the
      // report (here) and the scrub (q154) consume ONE mining run
      s.read.parquet(dupSpansPath(s, d))),
    "q154_span_dedup" -> ((s, d) =>
      // the ACTION for q153's mined spans: the lowest-id partner keeps its
      // text, every doc_b loses the shared tokens (merged across
      // partners); spans come from the shared cache, only the scrub runs
      Dedup.removeSpans(pairInjectedDocs(s, d),
        s.read.parquet(dupSpansPath(s, d)))),
    "q155_hybrid_rrf" -> ((s, d) => hybridRrf(s, d)),
    "q227_hybrid_retrieval_eval" -> ((s, d) =>
      // closes the retrieval loop index → hybrid search → eval in one
      // row: q215's metric suite over q155's RRF fusion (rank by the
      // rounded rrf_score — round-before-rank), k=5 on the fused top-10
      TextAnalysis.retrievalMetrics(hybridRrf(s, d),
        T(s, d, "documents").filter(col("text").contains("dup")), k = 5,
        scoreCol = "rrf_score")),
    "q228_embargo_by_type" -> ((s, d) => {
      // q219's embargo discipline per provenance group: same global
      // data-derived boundary, censused per (event_type, segment) so a
      // source that goes quiet before the boundary is visible instead of
      // averaged away
      val ev = Tables.events(s, d)
      val split = ev.agg(
        ((max(unix_timestamp(date_trunc("day", col("ts")))) / 86400L)
          .cast("long") - lit(3L)).as("__split"))
      Sampling.embargoSplitByGroup(ev, "ts", "user_id", "event_type",
        split, embargoDays = 2)
    }),
    "q156_triangle_counts" -> ((s, d) =>
      // clustering-coefficient precursor over the event-type transition
      // graph: canonical a<b<c enumeration, each triangle credits its
      // three corners
      Graph.triangleCounts(cachedTransitionEdges(s, d))),
    "q157_incremental_span_scrub" -> ((s, d) => {
      // incremental decontamination: the odd-id half is the NEW batch,
      // the even-id half the immutable corpus — each batch doc loses the
      // preamble it shares with its even corpus partner (plus any natural
      // duplicate-text runs), and batch-batch pairs are NOT scrubbed
      val all = pairInjectedDocs(s, d)
      Dedup.removeCorpusSpans(
        all.filter(col("doc_id") % 2 === 1),
        all.filter(col("doc_id") % 2 === 0),
        k = 3, minRun = 2, maxOcc = 20,
        shingleHash = graft.functions.md5Hash31(_))
    }),
    "q158_source_quality_gate" -> ((s, d) =>
      // C4-style domain filter: drop every document of sources whose MEAN
      // logistic quality misses 0.625 — one scan, group verdict applied
      // by broadcast semi-join
      TextAnalysis.sourceQualityGate(T(s, d, "documents"),
        groupCol = "source", minMean = 0.625)),
    "q159_clustering_coeff" -> ((s, d) =>
      Graph.clusteringCoefficients(
        cachedTransitionEdges(s, d))),
    "q160_cluster_best_keeper" -> ((s, d) =>
      // SemDeDup keep-best: q38's near-dup clusters, but the keeper is
      // the highest-quality member (ties to lower id), not the lowest id
      Dedup.keepBestPerCluster(
        Dedup.cachedClusters(s, docClustersPath(s, d)),
        TextAnalysis.qualityLogistic(T(s, d, "documents"))
          .select(col("doc_id"), col("quality_prob")))),
    "q161_scd2_merge" -> ((s, d) => {
      // SCD Type-2 merge: fold an update batch into a versioned dimension.
      // Batch exercises all four outcomes — changed attrs (%7: close +
      // open), no-op update (%11 minus the %7 overlap: pass through),
      // brand-new keys (negated-id namespace, the q122 disjointness
      // discipline), and untouched keys. Validity stamps are epoch longs
      // (0 = initial load, 100 = this batch) — any ordered type works
      val c = T(s, d, "customer")
      val dim = c.select(col("c_custkey"),
          col("c_mktsegment").as("segment"),
          round(col("c_acctbal"), 2).as("acctbal"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"),
          lit(true).as("is_current"))
      val changed = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          round(col("c_acctbal") + 100, 2).as("acctbal"))
      val noop = c.filter(col("c_custkey") % 11 === 0 &&
          col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          round(col("c_acctbal"), 2).as("acctbal"))
      val fresh = c.filter(col("c_custkey") % 13 === 0)
        .select((-col("c_custkey") - 1).as("c_custkey"),
          col("c_mktsegment").as("segment"),
          round(col("c_acctbal"), 2).as("acctbal"))
      val updates = changed.unionByName(noop).unionByName(fresh)
        .withColumn("eff", lit(100L))
      Scd.scd2Merge(dim, updates, Seq("c_custkey"),
        Seq("segment", "acctbal"))
    }),
    "q162_scd2_changelog" -> ((s, d) => {
      // backfill path: compress the raw event log into per-user status
      // intervals (consecutive repeats collapse into one run). event_id
      // makes the in-key ordering total — a ts tie that ordered
      // differently across engines would flip which row heads a run
      val ev = Tables.events(s, d).select(col("user_id"),
        col("event_type").as("status"), col("ts"), col("event_id"))
      Scd.scd2FromChangeLog(ev, Seq("user_id"), Seq("status"), "ts",
          tieCols = Seq("event_id"))
        .select(col("user_id"), col("status"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"))
    }),
    "q163_group_trend" -> ((s, d) => {
      // per-event-type drift monitor: regress the daily total on the day
      // number. Inputs are integer-valued doubles (rounded totals, small
      // rebased day index) so every moment sum is EXACT in IEEE double on
      // both engines; the closed-form solve is shared formula text
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(round(sum(col("value"))).as("y"))
        .select(col("event_type"),
          ((col("day").cast("long") / lit(86400)).cast("long") - 20000L)
            .cast("double").as("x"),
          col("y"))
      Regression.groupTrend(daily, Seq("event_type"), "x", "y")
    }),
    "q164_ols_fit" -> ((s, d) => {
      // multiple OLS over 4 moment sums' worth of lineitem: price (whole
      // dollars) on quantity, discount- and tax-basis-points. ONE
      // map-side-combinable aggregate pass + a Cramer solve evaluated
      // from identical SQL text on both engines → bit-identical fit
      val li = T(s, d, "lineitem").select(
        round(col("l_extendedprice")).as("y"), col("l_quantity").as("q"),
        round(col("l_discount") * 100).as("disc100"),
        round(col("l_tax") * 100).as("tax100"))
      Regression.olsFit(li, "y", Seq("q", "disc100", "tax100"))
    }),
    "q165_ols_outliers" -> ((s, d) => {
      // score with the q164 model: broadcast the 1-row coefficient frame,
      // predict map-side, top-20 |residual| with a total tiebreak order.
      // Residuals round to 6 BEFORE the ranking (round-before-rank)
      val li = T(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice")).as("y"), col("l_quantity").as("q"),
        round(col("l_discount") * 100).as("disc100"),
        round(col("l_tax") * 100).as("tax100"))
      val coef = Regression.olsCoefficients(li, "y",
          Seq("q", "disc100", "tax100"))
        .select(col("b_0"), col("b_1"), col("b_2"), col("b_3"))
      li.crossJoin(broadcast(coef))
        .withColumn("resid", round(col("y") - (col("b_0") +
          col("b_1") * col("q") + col("b_2") * col("disc100") +
          col("b_3") * col("tax100")), 6))
        .orderBy(abs(col("resid")).desc, col("l_orderkey"),
          col("l_linenumber"))
        .limit(20)
        .select("l_orderkey", "l_linenumber", "y", "resid")
    }),
    "q166_event_type_pivot" -> ((s, d) => {
      // long→wide reshape (melt q114's inverse): native relational pivot
      // with EXPLICIT pivot values — deterministic schema, single
      // partial/final count aggregate, no per-value scans; absent cells
      // coalesce to 0 to match SQL's filtered-count semantics
      val types = Seq("click", "view", "purchase", "signup", "error")
      val p = Tables.events(s, d)
        .groupBy(unix_timestamp(date_trunc("day", col("ts")))
          .as("day_epoch"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("day_epoch") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }),
    "q167_rolling_active_users" -> ((s, d) =>
      // rolling 7-day distinct users (WAU): dedup to (day, user) FIRST,
      // then a static ≤7-day fan-out + two-phase distinct count — no
      // range join, no corpus window
      Resample.rollingDistinctUsers(Tables.events(s, d), "ts", "user_id",
        windowDays = 7)),
    "q168_holt_trend" -> ((s, d) =>
      // Holt double-exponential smoothing (level + trend + forecast) —
      // q116's stateful-fold family with a 2-component state; day totals
      // round to 4 BEFORE the fold, both engines replay the identical
      // IEEE op sequence
      Resample.holtSmooth(Tables.events(s, d), "event_type", "ts",
        "value")),
    "q169_dsir_weights" -> ((s, d) =>
      // DSIR hashed-n-gram importance weights (target = src1-3): λ table
      // snapped to ppm BIGINTs right after the ln, per-doc weights are
      // exact integer sums — reproducible under any partitioning/engine;
      // session-cached (dsirWeightsPath), shared with the q170 selection
      s.read.parquet(dsirWeightsPath(s, d))),
    "q170_dsir_select" -> ((s, d) => {
      // importance SELECTION on the q169 weights (read from the shared
      // cache): keep docs above the corpus p75 (1-row broadcast
      // threshold, q111's pattern — no global sort), report per-source
      // kept counts + integer checksums
      val w = s.read.parquet(dsirWeightsPath(s, d))
      val thr = w.agg(round(expr("percentile(dsir_ppm, 0.75D)"), 6)
        .as("__thr"))
      val src = T(s, d, "documents").select(col("doc_id"), col("source"))
      w.crossJoin(broadcast(thr))
        .filter(col("dsir_ppm") > col("__thr"))
        .join(src, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("dsir_ppm")).as("sum_dsir_ppm"),
          expr("bit_xor(doc_id)").as("id_checksum"))
    }),
    "q171_bpe_merges" -> ((s, d) =>
      // distributed BPE tokenizer induction: 6 merge rounds over the
      // VOCAB relation (never the corpus after the first aggregate);
      // delimiter-encoded sequences make each merge one greedy replace
      TextAnalysis.bpeTrainMerges(T(s, d, "documents"), rounds = 6)),
    "q179_bpe_encode" -> ((s, d) =>
      // the inference half of q171: encode every doc with the trained
      // merges (vocab-granular — the corpus pays one more tokenize and a
      // vocab-sized join) and report symbols/chars compression
      TextAnalysis.bpeEncodedLengths(T(s, d, "documents"), rounds = 6)),
    "q180_pmi_collocations" -> ((s, d) =>
      // Church-Hanks document-co-presence PMI collocations: doc-keyed
      // self-join over the shared single-tokenize distinct-term relation,
      // vocab-sized df joins, 1-row N broadcast, round-6-before-rank
      TextAnalysis.termCooccurrencePmi(T(s, d, "documents"),
        minCount = 5, k = 50)),
    "q181_conversion_latency" -> ((s, d) =>
      // time-to-convert distribution through the view→click→purchase
      // funnel: exact integer-µs latencies per completer; quartiles
      // reported in SECONDS at 4 decimals — at 1e11-µs magnitudes the
      // engines' interpolation arithmetic differs in the last ulp
      // (~6e-5 µs), far above a 6-decimal µs rounding but 9 orders
      // below the 4-decimal second grid
      Funnel.conversionLatencies(Tables.events(s, d),
          Seq("view", "click", "purchase"))
        .agg(count(lit(1)).as("n_converted"),
          min(col("latency_us")).as("min_us"),
          round(expr("percentile(latency_us, 0.25D)") / 1e6, 4).as("p25_s"),
          round(expr("percentile(latency_us, 0.5D)") / 1e6, 4).as("p50_s"),
          round(expr("percentile(latency_us, 0.75D)") / 1e6, 4).as("p75_s"),
          max(col("latency_us")).as("max_us"))),
    "q182_rolling_users_sketched" -> ((s, d) =>
      // q167's scale tier: per-day mergeable HLL sketches unioned over
      // the window (the fan-out is per-day SKETCHES, not day×user);
      // exact lane oracle-checked, estimate gated within 5% (q71
      // checked-twin discipline)
      Resample.rollingDistinctUsersChecked(Tables.events(s, d), "ts",
        "user_id", windowDays = 7)),
    "q183_containment_indexed" -> ((s, d) => {
      // q176's batch-anchored direction through the PERSISTED containment
      // index: the corpus's capped shingle-key surface is built and
      // __key-bucketed ONCE, each batch (here: the half-truncations,
      // genuinely contained by the prefix property) probes with anchors
      // that read the index in place — zero exchange on the index side
      // (PlanShapeSpec gates it); verification arrays come from the
      // id-bucketed shingle table
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val toks = graft.functions.tokens(col("text"))
      val halves = docs.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(toks, lit(1),
          greatest((size(toks) / 2).cast("int"), lit(1))), " ").as("text"))
      val tag = tagFor(d)
      val name = s"cont_idx_$tag"
      Dedup.ensureContainmentIndex(docs, name, s"/tmp/graft_contpidx/$tag",
        "doc_id", "text", k = 3)
      Dedup.containmentPairsIndexed(halves, name, "doc_id", "text",
        k = 3, threshold = 0.9)
    }),
    "q184_session_paths" -> ((s, d) =>
      // session-scoped sequence mining: q142's top-k n-gram cut keyed
      // on q150's gap-bounded session keys, so a path cannot span an
      // inactivity gap and per-group mining state is bounded by session
      // length, not user lifetime
      Funnel.frequentSessionPaths(Tables.events(s, d), n = 3, k = 10)),
    "q185_wcc_census" -> ((s, d) => {
      // WCC census over the SIGNIFICANT-transition graph: keep edges at
      // weight >= max/2 (integer floor — portable), label components via
      // the pointer-doubling CC core on portable-hashed type nodes, and
      // histogram the component sizes — the graph-health snapshot
      val edges = cachedTransitionEdges(s, d)
      val mx = edges.agg(max(col("weight")).as("__mw"))
      val kept = edges.crossJoin(broadcast(mx))
        .filter(col("weight") >= expr("__mw div 2"))
      Graph.wccCensus(kept)
    }),
    "q186_lexical_diversity" -> ((s, d) =>
      // vocabulary-richness quality profile: type-token ratio, hapax
      // share, per-doc word entropy — one tokenize, one doc-keyed
      // aggregate, round-6 after the only division
      TextAnalysis.lexicalDiversity(T(s, d, "documents"))),
    "q187_zipf_fit" -> ((s, d) =>
      // corpus-health OLS: ln(freq) on ln(rank) over the frequency head;
      // bounded-buffer TopK head cut, window only over <=500 rows,
      // scalar moment arithmetic rounded to 6
      TextAnalysis.zipfFit(T(s, d, "documents"), topRanks = 500)),
    "q188_repeat_epochs" -> ((s, d) =>
      // data-constrained repeat scheduling (Muennighoff 2023): equal
      // budget shares, small sources repeat up to 8 epochs — exact
      // integer DIV math end-to-end, 1-row broadcast scalars
      Sampling.repeatEpochs(T(s, d, "documents"), budgetFactor = 4,
        maxEpochs = 8)),
    "q189_data_card" -> ((s, d) =>
      // per-source release datasheet: doc/token mass, portable-hash
      // exact-dup rate, mean lexical quality, dominant language — text
      // never shuffles (md5-31 hashes), language mode over a tiny
      // histogram window
      TextAnalysis.dataCard(T(s, d, "documents"))),
    "q190_winsorized_value" -> ((s, d) =>
      // tail-robust numeric cleaning: p01/p99 fences rounded BEFORE the
      // clamp (round-before-compare), group-keyed broadcast join back,
      // means before/after + clamp counts
      Quantiles.winsorizedStats(T(s, d, "events"), Seq("event_type"),
        "value")),
    "q191_audience_overlap" -> ((s, d) =>
      // segment-pair distinct-user overlap: one reduction to (type,
      // user), per-USER self-join (≤ types² rows each — no hot key),
      // exact Jaccard ppm + HLL union estimate gated vs exact
      Quantiles.audienceOverlap(T(s, d, "events"))),
    "q192_daily_correlation" -> ((s, d) =>
      // do views and purchases move together day over day? counts are
      // integers → exact BIGINT moments under any partitioning;
      // full-outer 0-fill makes absence part of the signal
      Regression.dailyCountCorrelation(Tables.events(s, d), "ts",
        "event_type", "view", "purchase")),
    "q193_bpe_fertility" -> ((s, d) =>
      // multilingual tokenizer fairness: per-lang symbols/word and
      // symbols/char under ONE trained BPE vocabulary — exact integer
      // rollup, one division per language
      TextAnalysis.bpeFertilityByLang(T(s, d, "documents"), rounds = 6)),
    "q194_centroid_drift" -> ((s, d) =>
      // semantic drift: per-label centroid cosine between the even- and
      // odd-id corpus slices — one posexplode pass, raw vectors never
      // shuffle, cosine over the tiny centroid relation
      Similarity.labelCentroidDrift(T(s, d, "embeddings"),
        col("vec_id") % 2 === 0, col("vec_id") % 2 =!= 0)),
    "q195_hard_negatives" -> ((s, d) =>
      // contrastive-training mining: top-3 closest DIFFERENT-label
      // vectors per probe; label filter fused into the broadcast-probe
      // scoring join, GroupedTopK finish, round-6 before rank
      Similarity.hardNegatives(T(s, d, "embeddings"),
        col("vec_id") < 10, k = 3)),
    "q196_leakage_safe_split" -> ((s, d) =>
      // cluster-safe train/val/test: near-dup clusters land whole in one
      // split (hash the CC representative, not the doc) — id-only
      // shuffles end-to-end
      Sampling.leakageSafeSplitFromReps(T(s, d, "documents"),
        Dedup.cachedClusters(s, docClustersPath(s, d)))),
    "q197_split_leakage" -> ((s, d) =>
      // the audit that motivates q196: near-dup pairs straddling a NAIVE
      // per-doc hash split, counted per unordered split pair
      Sampling.splitLeakage(
        Dedup.cachedPairs(s, docClustersPath(s, d)))),
    "q198_cross_source_dups" -> ((s, d) => {
      // provenance-overlap matrix over a corpus with an injected 'mirror'
      // slice (every 7th doc re-tagged — the raw corpus has no
      // cross-source dups, q135's injection trick); distinct (source,
      // hash) first, so only 60-bit hashes shuffle
      val docs = T(s, d, "documents")
      val aug = docs.unionAll(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("source", lit("mirror")))
      Dedup.crossSourceDuplicates(aug)
    }),
    "q199_langid_eval" -> ((s, d) =>
      // classifier report card for the langid heuristic vs the labeled
      // lang column: per-class precision/recall/F1, every metric one
      // rounded division of integer confusion counts
      TextAnalysis.langIdEvaluation(T(s, d, "documents"))),
    "q200_curation_funnel" -> ((s, d) => {
      // capstone v5 — the retention report a curation run ships with:
      // raw → language-known → normalized-exact unique → near-dup
      // unique; the stage pipeline is session-cached as a flags relation
      // (curationStagesPath, shared with q207), so this is one aggregate
      // over it; ppm-of-raw via exact integer DIV
      val agg = s.read.parquet(curationStagesPath(s, d))
        .agg(count(lit(1)).as("__raw"),
          sum(col("lang_known")).as("__lang"),
          sum(col("exact_unique")).as("__exact"),
          sum(col("near_unique")).as("__near"))
        .checkpointed // 1 row, consumed by the 4 stage branches
      def st(n: Int, name: String, cnt: String) =
        agg.select(lit(n).as("stage_no"), lit(name).as("stage"),
          col(cnt).as("n_docs"),
          expr(s"1000000 * $cnt DIV __raw").as("retained_ppm"))
      st(0, "raw", "__raw")
        .unionAll(st(1, "lang_known", "__lang"))
        .unionAll(st(2, "exact_unique", "__exact"))
        .unionAll(st(3, "near_unique", "__near"))
    }),
    "q201_mutual_knn_census" -> ((s, d) =>
      // semantic-cluster census: exact blocked kNN → reciprocal filter
      // (hubs can't absorb everything) → CC size histogram; the graph +
      // CC relation is session-cached (ensurePairClusters) and shared
      // with the clustering-eval trio q221–q223
      knnCensus(Dedup.cachedClusters(s, knnClustersPath(s, d)))),
    "q202_label_outliers" -> ((s, d) =>
      // label-noise audit: the 3 vectors least similar to their own
      // label's centroid — one posexplode pass for centroids, broadcast
      // rejoin, in-order cosine fold, bottom-k via GroupedTopK
      Similarity.labelOutliers(T(s, d, "embeddings"), k = 3)),
    "q203_quantile_normalize" -> ((s, d) =>
      // cross-source score equalization: mid-rank uniformization of doc
      // length within each source — integer rank/count window, one
      // rounded division
      Quantiles.rankUniformScores(T(s, d, "documents"), "source",
        "n_chars", "doc_id")),
    "q204_source_divergence" -> ((s, d) =>
      // which sources are near-redundant vs additive: pairwise JS
      // divergence between unigram distributions — one tokenize,
      // vocab-sized pair fan-out, per-term ln snapped to nano BIGINTs
      // (the DSIR discipline at a finer unit) so the sum is order-free
      TextAnalysis.sourceDivergence(T(s, d, "documents"))),
    "q205_cross_source_neardups" -> ((s, d) => {
      // q198's exact matrix at NEAR-dup granularity: LSH pairs carry ids
      // only; sources attach by two id-keyed joins against a 2-column
      // projection — the canonical pair fold happens on (src, src)
      val docs = T(s, d, "documents")
      val pairs = Dedup.cachedPairs(s, docClustersPath(s, d))
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("__sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("__sb")), "id_b")
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),
    "q206_cube_summary" -> ((s, d) =>
      // CUBE over (lang, source): all four grouping levels in one pass —
      // the OLAP summary grid, partial+final aggregated like any groupBy
      T(s, d, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_sum"))),
    "q207_funnel_by_source" -> ((s, d) => {
      // q200 per provenance: which source loses most to each curation
      // stage — one source-keyed aggregate over the session-cached
      // stage-flags relation; a (stage, source) pair with zero docs gets
      // no row (the frame-census contract the oracle mirrors)
      val perSrc = s.read.parquet(curationStagesPath(s, d))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("__raw"),
          sum(col("lang_known")).as("__lang"),
          sum(col("exact_unique")).as("__exact"),
          sum(col("near_unique")).as("__near"))
        .checkpointed // |sources| rows, consumed by 4 stage branches
      def st(n: Int, name: String, cnt: String) =
        perSrc.filter(col(cnt) > 0)
          .select(lit(n).as("stage_no"), lit(name).as("stage"),
            col("source"), col(cnt).as("n_docs"),
            expr(s"1000000 * $cnt DIV __raw").as("retained_ppm"))
      st(0, "raw", "__raw")
        .unionAll(st(1, "lang_known", "__lang"))
        .unionAll(st(2, "exact_unique", "__exact"))
        .unionAll(st(3, "near_unique", "__near"))
    }),
    "q208_incremental_split" -> ((s, d) => {
      // eval hygiene under corpus growth: the q60 corpus/batch fixture
      // (doc_id < 250 standing, >= 250 new); batch docs inherit the
      // matched corpus cluster's split from the STANDING rep table,
      // unmatched hash as singletons
      val docs = T(s, d, "documents")
      val corpus = docs.filter(col("doc_id") < 250)
      val reps = Dedup.clusterNearDups(
        Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
          shingleK = 2, numPerm = 64, bands = 16, threshold = 0.8))
      Sampling.incrementalSplitAssign(corpus,
        docs.filter(col("doc_id") >= 250), reps)
    }),
    "q209_source_divergence_bucketed" -> ((s, d) =>
      // q204's sketch tier: terms fold to 256 portable-hash buckets —
      // bounded per-source state for open vocabularies; JS can only
      // shrink under bucketing (gated in the spec)
      TextAnalysis.sourceDivergence(T(s, d, "documents"), buckets = 256)),
    "q221_cluster_purity" -> ((s, d) =>
      // external clustering validation: do the mutual-kNN components
      // agree with the labels? (shared core `clusterPurity`; covers
      // vectors with ≥1 reciprocal edge — singletons carry no clustering
      // signal to validate). Graph + CC served from the session cache.
      clusterPurity(T(s, d, "embeddings"),
        Dedup.cachedClusters(s, knnClustersPath(s, d)))),
    "q222_adjusted_rand" -> ((s, d) =>
      // chance-corrected clustering agreement (Hubert–Arabie ARI) —
      // shared core `adjustedRandIndex` over the session-cached graph
      adjustedRandIndex(T(s, d, "embeddings"),
        Dedup.cachedClusters(s, knnClustersPath(s, d)))),
    "q223_cluster_nmi" -> ((s, d) =>
      // the information-theoretic member of the clustering-eval trio
      // (purity q221 / ARI q222 / NMI here) — shared core `clusterNmi`
      // over the session-cached graph
      clusterNmi(T(s, d, "embeddings"),
        Dedup.cachedClusters(s, knnClustersPath(s, d)))),
    "q224_cluster_purity_ivf" -> ((s, d) =>
      // the clustering-eval loop at the CORPUS-SCALE graph tier: purity
      // over the IVF mutual-kNN graph (q210's discipline — every cell
      // probed ⇒ complete candidates ⇒ tier-equivalent clusters, so the
      // q221 oracle applies verbatim); candidate cost is Σ|probed
      // cells|, never all-pairs
      clusterPurity(T(s, d, "embeddings"),
        Dedup.cachedClusters(s, knnIvfClustersPath(s, d)))),
    "q225_adjusted_rand_ivf" -> ((s, d) =>
      // ARI over the IVF graph tier — same tier-equivalence argument as
      // q224, same oracle as q222
      adjustedRandIndex(T(s, d, "embeddings"),
        Dedup.cachedClusters(s, knnIvfClustersPath(s, d)))),
    "q226_cluster_nmi_ivf" -> ((s, d) =>
      // NMI over the IVF graph tier — completes the corpus-scale
      // clustering-eval trio, same oracle as q223
      clusterNmi(T(s, d, "embeddings"),
        Dedup.cachedClusters(s, knnIvfClustersPath(s, d)))),
    "q220_split_contamination" -> ((s, d) => {
      // capstone v6 — the leakage story end-to-end, quantified: near-dup
      // pairs straddling the train/eval boundary under the NAIVE per-doc
      // split vs the CLUSTER-SAFE split; the cluster-safe row is ZERO by
      // construction, and this query PROVES it through the oracle. The
      // naive assignment reuses assignSplits with an empty rep table
      // (every doc a singleton) — one definition of the split math for
      // both modes
      // cached relations are parquet-backed — already materialized, so
      // the old pairs localCheckpoint (guarding double LSH execution
      // across the two crossPairs branches) is obsolete
      val docs = T(s, d, "documents")
      val pairs = Dedup.cachedPairs(s, docClustersPath(s, d))
      val reps = Dedup.cachedClusters(s, docClustersPath(s, d))
      def crossPairs(assign: DataFrame, mode: String) = {
        val a = assign.select(col("doc_id").as("id_a"),
          col("split").as("__sa"))
        val b = assign.select(col("doc_id").as("id_b"),
          col("split").as("__sb"))
        pairs.join(a, "id_a").join(b, "id_b")
          .filter((col("__sa") === "train") =!= (col("__sb") === "train"))
          .select(lit(mode).as("split_mode"),
            when(col("__sa") === "train", col("id_b"))
              .otherwise(col("id_a")).as("__eval_doc"))
      }
      import s.implicits._
      val counts = crossPairs(Sampling.assignSplits(docs, reps.limit(0)),
          "naive")
        .unionAll(crossPairs(Sampling.assignSplits(docs, reps),
          "cluster_safe"))
        .groupBy(col("split_mode"))
        .agg(count(lit(1)).as("__np"), countDistinct(col("__eval_doc"))
          .as("__nd"))
      Seq("naive", "cluster_safe").toDF("split_mode")
        .join(counts, Seq("split_mode"), "left")
        .select(col("split_mode"),
          coalesce(col("__np"), lit(0L)).as("n_cross_pairs"),
          coalesce(col("__nd"), lit(0L)).as("n_contaminated_eval_docs"))
    }),
    "q218_ks_pairs" -> ((s, d) =>
      // distribution-shift matrix: two-sample KS distance between every
      // source pair's length distributions — integer ECDF cross-products,
      // pair-keyed cumulative windows over the support, ppm via DIV
      Quantiles.ksStatisticPairs(T(s, d, "documents"), "source",
        "n_chars")),
    "q219_embargo_split" -> ((s, d) => {
      // time-series eval hygiene: train / 2-day embargo / test census
      // around a data-derived boundary (max day − 3); map-only gate off
      // a broadcast 1-row scalar, exact integer day math
      val ev = Tables.events(s, d)
      val split = ev.agg(
        ((max(unix_timestamp(date_trunc("day", col("ts")))) / 86400L)
          .cast("long") - lit(3L)).as("__split"))
      Sampling.embargoSplit(ev, "ts", "user_id", split, embargoDays = 2)
    }),
    "q215_retrieval_metrics" -> ((s, d) => {
      // search-stack eval loop: MRR/P@10/recall@10/nDCG@10 of the BM25
      // top-20 against a deterministic relevance rule; the only
      // transcendental (1/log2) snaps to nano BIGINTs
      val docs = T(s, d, "documents")
      val ranking = TextAnalysis.bm25Rank(docs,
        Seq("dup", "vector", "scan"), topK = 20)
      TextAnalysis.retrievalMetrics(ranking,
        docs.filter(col("text").contains("dup")), k = 10)
    }),
    "q216_spearman_by_source" -> ((s, d) =>
      // monotone-association audit: does length ordering predict token
      // ordering per source — keyed rank windows, exact integer Σd²,
      // one rounded division
      Regression.spearmanByGroup(
        T(s, d, "documents").withColumn("n_tokens",
          graft.functions.tokenCount(col("text")).cast("long")),
        "source", "n_chars", "n_tokens", "doc_id")),
    "q217_length_gini" -> ((s, d) =>
      // concentration audit: how unequally doc-length mass concentrates
      // within each source — sorted-rank identity, integers end-to-end
      Quantiles.giniByGroup(T(s, d, "documents"), "source", "n_chars",
        "doc_id")),
    "q214_bm25_indexed" -> ((s, d) => {
      // q149's semantics through the PERSISTED inverted index: tokenize,
      // tf aggregation, and global moments paid once at build; search
      // reads the query terms' pruned postings buckets + stored doc
      // lengths — no corpus scan. Same oracle as q149.
      val docs = T(s, d, "documents")
      TextAnalysis.ensureBm25Index(docs, s"bm25_${tagFor(d)}",
        s"/tmp/graft_bm25/${tagFor(d)}")
      TextAnalysis.bm25SearchIndexed(s, s"bm25_${tagFor(d)}",
        queryTerms = Seq("dup", "vector", "scan"), topK = 20)
    }),
    "q211_cluster_kfold" -> ((s, d) =>
      // cross-validation hygiene: q196's cluster-whole guarantee at k=5
      // folds — hash the CC rep mod folds, id-only shuffles
      Sampling.clusterKFoldFromReps(T(s, d, "documents"),
        Dedup.cachedClusters(s, docClustersPath(s, d)), folds = 5)),
    "q212_epoch_shuffle" -> ((s, d) =>
      // reproducible per-epoch data order: portable-hash shard + in-shard
      // position for epochs 1 and 2 — different orders, both exact;
      // windows keyed by shard (no global sort)
      Sampling.epochShuffle(T(s, d, "documents"), "doc_id", epoch = 1,
          shards = 8)
        .select(lit(1).as("epoch"), col("doc_id"), col("shard"), col("pos"))
        .unionAll(
          Sampling.epochShuffle(T(s, d, "documents"), "doc_id", epoch = 2,
              shards = 8)
            .select(lit(2).as("epoch"), col("doc_id"), col("shard"),
              col("pos")))),
    "q213_curriculum_interleave" -> ((s, d) =>
      // source-balanced curriculum: every source's best-by-length doc
      // before any source's second best; (round, slot) is the consuming
      // order, both windows keyed — no single-partition sort
      Sampling.curriculumInterleave(T(s, d, "documents"), "source",
        "n_chars", "doc_id")),
    "q229_mutual_knn_graph_indexed" -> ((s, d) => {
      // the PERSISTED graph tier: directed top-k built once (vectors +
      // state self-contained, batch-cost appendToKnnGraphIndex), census
      // from the stored relation — same oracle as q201/q210 (the stored
      // top-k IS the exact tier's, so mutual pairs are tier-equivalent)
      val path = s"/tmp/graft_knn/${tagFor(d)}"
      Similarity.ensureKnnGraphIndex(T(s, d, "embeddings"), k = 5, path)
      knnCensus(Dedup.clusterNearDups(
        Similarity.mutualKnnPairsIndexed(s, path)
          .select(col("id_a"), col("id_b")), idCol = "vec_id"))
    }),
    "q230_matryoshka_recall" -> ((s, d) => {
      // matryoshka truncation eval: does the first-16-dim prefix of the
      // embedding retrieve what the full 64 dims retrieve? ONE scoring
      // pass computes both lanes, round-6 before rank, ties by id;
      // recall@10 per query over the sampled query set
      val emb = T(s, d, "embeddings")
      Similarity.matryoshkaRecall(emb,
        emb.filter(col("vec_id") % 101 === 0), prefixDim = 16, k = 10)
    }),
    "q231_quality_calibration" -> ((s, d) =>
      // reliability diagram for the frozen quality logistic against the
      // is-English proxy label (its stopword features are English
      // markers, so the probability SHOULD track this label): 10
      // equal-width bins, per-bin ECE term; means round-6 before the gap
      TextAnalysis.calibrationBins(
        TextAnalysis.qualityLogistic(T(s, d, "documents"),
            carryCols = Seq("lang"))
          .withColumn("is_en", (col("lang") === "en").cast("int")),
        "quality_prob", "is_en")),
    "q232_dedup_threshold_sweep" -> ((s, d) =>
      // curation-tuning sweep over the session-cached scored pair
      // relation (LSH + exact-jaccard verify built ONCE at >=0.8):
      // pairs / clusters / docs-removed at each candidate cut — every
      // threshold pays a filter + CC over the output-sized pair list,
      // the corpus-sized pipeline never re-runs
      Dedup.thresholdSweep(Dedup.cachedPairs(s, docClustersPath(s, d)),
        Seq(0.90, 0.95, 0.98))),
    "q233_sequence_packing" -> ((s, d) =>
      // concat-and-chop packing into 256-token context windows: every
      // doc's global token offset via the two-level distributed prefix
      // sum (bucketed cumsum + tiny bucket-base window — never a
      // single-partition corpus sort, plan-gated)
      Packing.packConcatChop(
        T(s, d, "documents").select(col("doc_id"),
          graft.functions.tokenCount(col("text")).cast("long").as("n_toks")),
        "n_toks", capacity = 256)),
    "q234_packing_census" -> ((s, d) =>
      // per-window packing census: docs touching each window, carryover
      // from the previous window, fill ratio (the padding/waste metric a
      // loader tuning capacity actually reads); docs explode to exactly
      // the windows they occupy — output-sized, no corpus re-scan
      Packing.packingCensus(
        Packing.packConcatChop(
          T(s, d, "documents").select(col("doc_id"),
            graft.functions.tokenCount(col("text")).cast("long").as("n_toks")),
          "n_toks", capacity = 256),
        capacity = 256)),
    "q241_cdc_dup_chunks" -> ((s, d) =>
      // the CDC payoff query: duplicated content found at content-defined
      // boundaries — a chunk shared by ≥2 docs is a real cross-doc
      // repeat even when surrounding edits shifted its position (q134's
      // fixed-grid tier misses shifted repeats); id-only aggregate over
      // the map-only chunker, text never shuffles
      TextAnalysis.cdcChunks(T(s, d, "documents"), divisor = 16)
        .groupBy(md5Hash31(col("chunk_text")).as("chunk_hash"),
          col("n_chunk_tokens"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)),
    "q240_cdc_chunks" -> ((s, d) =>
      // content-defined chunking: boundaries where the portable token
      // hash ≡ 0 mod 16, so chunk hashes survive head insertions (the
      // shift-robustness fixed-stride q95 cannot give — pinned in
      // TextAnalysisSpec); the chunker is a map-only codegen'd fold,
      // nothing corpus-sized shuffles before this output-sized projection
      TextAnalysis.cdcChunks(T(s, d, "documents"), divisor = 16)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5Hash31(col("chunk_text")).as("chunk_hash"))),
    "q239_batch_assembly" -> ((s, d) =>
      // capstone v8 — pretraining batch assembly end-to-end from the
      // round's ops: UniMax waterfill (90% budget, 1-epoch cap) → per-
      // source keep_ppm gate on the portable hash → snake-shard the
      // survivors by token count → per-shard balance census. ONE oracle
      // row chains recursive-CTE waterfill + gate + distributed rank.
      Packing.shardCensus(
        Packing.snakeShardAssign(
          Sampling.unimaxSample(T(s, d, "documents"),
            budgetFactorPct = 90, maxEpochs = 1)
            .select(col("doc_id"),
              graft.functions.tokenCount(col("text")).cast("long")
                .as("n_toks")),
          "n_toks", nShards = 8), nShards = 8)),
    "q238_binary_quant_indexed" -> ((s, d) => {
      // the PERSISTED binary-quant tier: the Hamming lane scans the
      // stored 24-byte/vector codes table in place; per-row codes have no
      // trained state, so the tier is bit-equal to q235's inline compute
      // (same oracle — the q37/q77 discipline)
      val path = s"/tmp/graft_binq/${tagFor(d)}"
      val emb = T(s, d, "embeddings")
      Similarity.ensureBinaryQuantIndex(emb, path)
      Similarity.binaryQuantTopKIndexed(s, path,
        emb.filter(col("vec_id") % 101 === 0), shortlist = 40, k = 10)
    }),
    "q237_unimax_allocation" -> ((s, d) =>
      // UniMax waterfill (Chung et al. 2023): equal budget share per
      // source capped at 2 epochs, capped leftovers recycle into the
      // still-open shares; exact integer recurrence over the k-row
      // frozen census (k = #sources), mirrored by a recursive-CTE oracle
      Sampling.unimaxAllocation(T(s, d, "documents"),
        budgetFactorPct = 200, maxEpochs = 2)),
    "q236_balanced_shards" -> ((s, d) =>
      // LPT-ish balanced training shards: snake deal over the descending
      // token-count rank (two-level distributed rank, never a corpus-wide
      // single-partition sort — plan-gated); census = the balance report
      // a loader reads before declaring shards usable
      Packing.shardCensus(
        Packing.snakeShardAssign(
          T(s, d, "documents").select(col("doc_id"),
            graft.functions.tokenCount(col("text")).cast("long").as("n_toks")),
          "n_toks", nShards = 8), nShards = 8)),
    "q246_kcore_customers" -> ((s, d) =>
      // dense-subgraph mining: bounded-round k-core peel (k=16) over the
      // customer–part purchase bipartite graph — who buys broadly from
      // the broadly-bought; integer degree math, (id, id)-only shuffles,
      // unrolled-layer oracle (the fixed-iterate pageRank contract).
      // r16: the peel runs on LONG-encoded nodes (customer 2k, part
      // 2k+1 — injective, so the graph is isomorphic and every degree
      // identical) instead of "c:"/"p:" strings: 6 rounds × 3 exchanges
      // + a checkpoint each carry 8-byte keys instead of ~9-char
      // strings (guide §2.3 narrower types); the string label is
      // re-derived only on the final node-sized output. The explicit
      // cast to long guards the *2 encode against an Int32-typed key
      // column at larger SFs (ANSI overflow would abort the query)
      Graph.kCore(
        T(s, d, "lineitem")
          .join(T(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey").cast("long") * 2).as("src"),
            (col("l_partkey").cast("long") * 2 + 1).as("dst")),
        k = 16, rounds = 6)
        .select(
          concat(when(pmod(col("node"), lit(2)) === 0, lit("c:"))
              .otherwise(lit("p:")),
            shiftright(col("node"), 1)).as("node"),
          col("degree"))),
    "q247_event_hits" -> ((s, d) =>
      // hubs & authorities over the event-type transition graph: which
      // event kinds FEED engagement (hubs) vs RECEIVE it (authorities) —
      // 10 weighted HITS rounds, L1-normalized, round-6 every step, the
      // oracle unrolls the identical iteration (q136's discipline)
      Graph.hits(cachedTransitionEdges(s, d),
        iterations = 10)),
    "q244_ranksum_pairs" -> ((s, d) =>
      // directional drift matrix: Mann–Whitney 2U between every source
      // pair's length distributions — which side is stochastically
      // larger, as an integer effect-size ppm (500000 = no shift); shares
      // the KS matrix's pair-support core, corpus never rides the fan-out
      Quantiles.rankSumPairs(T(s, d, "documents"), "source", "n_chars")),
    "q245_psi_drift" -> ((s, d) => {
      // scorecard-style drift monitor: per-event-type PSI of value-cents
      // between the first days (reference) and the last 3 days (current)
      // — ref-anchored integer bins, +1 smoothing over all 10 bins,
      // nano-snapped log terms so the sum is order-free
      val ev = Tables.events(s, d).select(col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"),
        expr("unix_timestamp(date_trunc('DAY', ts)) DIV 86400").as("day"))
      val split = ev.agg((max(col("day")) - lit(3L)).as("__split"))
      Quantiles.psiByGroup(ev.crossJoin(broadcast(split)),
        "event_type", "value_cents", col("day") < col("__split"))
    }),
    "q242_quality_roc_report" -> ((s, d) =>
      // threshold-free report card for the frozen quality logistic vs the
      // is-English proxy label: tie-corrected rank-sum AUC (integer 2U
      // until one final division), Gini from the same integer numerator,
      // tie-block average precision (nano-snapped terms), best-F1
      // operating point — all off ONE bounded distinct-score relation
      TextAnalysis.rocPrReport(
        TextAnalysis.qualityLogistic(T(s, d, "documents"),
            carryCols = Seq("lang"))
          .withColumn("is_en", (col("lang") === "en").cast("int")),
        "quality_prob", "is_en")),
    "q243_quality_pr_curve" -> ((s, d) =>
      // every achievable operating point of the quality filter: one row
      // per distinct round-6 score (bounded domain, never corpus-sized)
      // with confusion counts + precision/recall/F1 — the table the
      // curation team reads to pick the keep threshold
      TextAnalysis.prCurve(
        TextAnalysis.qualityLogistic(T(s, d, "documents"),
            carryCols = Seq("lang"))
          .withColumn("is_en", (col("lang") === "en").cast("int")),
        "quality_prob", "is_en")),
    "q268_ann_recall_sweep" -> ((s, d) => {
      // the nProbe tuning curve: recall vs exact at probes 1/2/4 — the
      // table an index operator reads to set the latency/recall dial;
      // exact top-10 computed once (checkpointed), each probe point is
      // a semi-join count
      val emb = T(s, d, "embeddings")
      val centroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val exact = Similarity.cosineTopK(emb, queryId = 1L, k = 10)
        .select(col("vec_id")).checkpointed
      Seq(1, 2, 4).map { np =>
        exact.join(
            Similarity.ivfTopK(emb, centroids, queryId = 1L, k = 10,
              nProbe = np).select(col("vec_id")),
            Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("__o"))
          .select(lit(np).as("n_probe"), col("__o").as("n_overlap"),
            expr("1000000 * __o DIV 10").as("recall_ppm"))
      }.reduce(_ unionByName _)
    }),
    "q267_ann_recall_report" -> ((s, d) => {
      // the ANN tradeoff quantified user-facing: IVF (nProbe=2) top-10
      // vs exact top-10 for the q37 probe — overlap and recall ppm in
      // one row; both tiers are existing operators, the report is two
      // counts and a semi-join
      val emb = T(s, d, "embeddings")
      val centroids = emb.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") / 97).cast("int").as("cell_id"),
          col("embedding").as("centroid"))
      val ivf = Similarity.ivfTopK(emb, centroids, queryId = 1L, k = 10,
        nProbe = 2).select(col("vec_id"))
      val exact = Similarity.cosineTopK(emb, queryId = 1L, k = 10)
        .select(col("vec_id"))
      val ov = exact.join(ivf, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("__o"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(ivf.agg(count(lit(1)).as("n_ivf"))))
        .crossJoin(broadcast(ov))
        .select(lit(10).as("k"), col("n_exact"), col("n_ivf"),
          col("__o").as("n_overlap"),
          expr("1000000 * __o DIV n_exact").as("recall_ppm"))
    }),
    "q266_deduped_search" -> ((s, d) => {
      // search-result diversification: BM25 top-20 collapsed to one
      // result per near-dup cluster (best-scoring member wins, the
      // session-cached rep relation rides a left join), re-cut to 10 —
      // the query-time dedup a search/RAG stack applies so the context
      // window isn't spent on five copies of one page
      val ranked = TextAnalysis.bm25Rank(T(s, d, "documents"),
          queryTerms = Seq("dup", "vector", "scan"), topK = 20)
        .select(col("doc_id"), col("bm25"))
      val reps = Dedup.cachedClusters(s, docClustersPath(s, d))
      val joined = ranked.join(reps, Seq("doc_id"), "left")
        .select(col("doc_id"), col("bm25"),
          coalesce(col("cluster_rep"), col("doc_id")).as("dup_group"))
      graft.plans.TopK.perGroup(joined, Seq("dup_group"),
          Seq(("bm25", true), ("doc_id", false)), k = 1)
        .orderBy(desc("bm25"), col("doc_id")).limit(10)
    }),
    "q265_decayed_popularity" -> ((s, d) =>
      // freshness-weighted activity: events count 2^(-age/7d) at the
      // data's reference day — day counts reduce first, per-day decay
      // terms nano-snap so the sum is order-free; the recency signal a
      // trending rollup or freshness-aware sampler reads
      Resample.decayedPopularity(Tables.events(s, d), "event_type",
        "ts")),
    "q264_corpus_health" -> ((s, d) => {
      // capstone v10 — the corpus-health dashboard in ONE oracle row:
      // volume + exact-dup rate, length PSI (even-id reference), mean
      // quality in integer ppm, top-source concentration, and the last
      // ingest batch's shingle novelty — five monitor families composed,
      // every branch folding to a broadcast 1-row frame. The shared base
      // is checkpointed ONCE (the q207 per-source-funnel discipline) so
      // the dashboard costs one corpus FileScan, not five — plan-gated
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
        .checkpointed
      val dups = docs.agg(count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(md5Hash31(col("text"))))
            .as("__nd"))
        .select(col("n_docs"), expr("1000000 * __nd DIV n_docs")
          .as("dup_ppm"))
      val psi = Quantiles.psiByGroup(
          docs.select(lit("all").as("__grp"), col("n_chars"),
            (col("doc_id") % 2 === 0).as("__r")),
          "__grp", "n_chars", col("__r"))
        .select(col("psi").as("length_psi"))
      val q = TextAnalysis.qualityLogistic(docs)
        .select(round(col("quality_prob") * 1e6).cast("long").as("__p"))
        .agg(expr("sum(__p) DIV count(1)").as("mean_quality_ppm"))
      val top = docs.groupBy(col("source")).agg(count(lit(1)).as("__c"))
        .agg(max(col("__c")).as("__mx"), sum(col("__c")).as("__tot"))
        .select(expr("1000000 * __mx DIV __tot")
          .as("top_source_share_ppm"))
      val nov = TextAnalysis.noveltyCurve(docs)
        .orderBy(desc("batch")).limit(1)
        .select(col("novelty_ppm").as("last_batch_novelty_ppm"))
      dups.crossJoin(broadcast(psi)).crossJoin(broadcast(q))
        .crossJoin(broadcast(top)).crossJoin(broadcast(nov))
    }),
    "q263_hybrid_linear" -> ((s, d) => {
      // the other standard hybrid combiner beside q155's RRF: per-leg
      // min-max normalization (round-before-combine) with a 0.3/0.7
      // sparse/dense convex blend, round-before-rank top-10 — per-leg
      // extrema ride as broadcast scalars, lists are top-k-sized
      val sparse = TextAnalysis.bm25Rank(T(s, d, "documents"),
          queryTerms = Seq("dup", "vector", "scan"), topK = 20)
        .select(col("doc_id"), col("bm25"))
      val dense = Similarity.cosineTopK(T(s, d, "embeddings"),
          queryId = 0L, k = 20)
        .select(col("vec_id").as("doc_id"), round(col("sim"), 6).as("sim"))
      Similarity.linearFuse(Seq((sparse, "bm25", 0.3), (dense, "sim", 0.7)),
        "doc_id", topK = 10)
    }),
    "q262_quality_influence" -> ((s, d) =>
      // governance diagnostic: leave-one-source-out jackknife of the
      // corpus quality mean — which provider drags the average, with a
      // jackknife SE from integer micro-moments; one scan, totals-only
      // arithmetic, no per-group rescan
      Quantiles.jackknifeGroupInfluence(
        TextAnalysis.qualityLogistic(T(s, d, "documents"),
          carryCols = Seq("source")),
        "source", round(col("quality_prob") * 1e6))),
    "q261_readability" -> ((s, d) =>
      // classic readability feature for the quality stack: Flesch
      // reading ease from exact integer word/sentence/vowel-group
      // counts — one map-side codegen'd fold per doc, nothing shuffles
      TextAnalysis.readability(T(s, d, "documents"))),
    "q260_community_modularity" -> ((s, d) => {
      // closes the community-detection loop: Newman modularity of
      // q146's LPA communities on the same transition graph — exact
      // integer numerator Σ(w_in·m₂ − deg²), one final division
      val edges = cachedTransitionEdges(s, d)
      Graph.modularity(edges, Graph.labelPropagation(edges,
        iterations = 5))
    }),
    "q259_last_touch_attribution" -> ((s, d) =>
      // marketing attribution: each purchase credits its cents to the
      // k-decile channel of the user's most recent preceding view —
      // one per-user carry-forward window (the as-of discipline, no
      // self-join), channels-sized rollup, -1 = unattributed
      Funnel.lastTouchAttribution(Tables.events(s, d),
        touchType = "view", convType = "purchase",
        // floor division (k - pmod(k,10)) DIV 10, NOT bare DIV: Spark DIV
        // truncates toward zero while the oracle's // floors, and the
        // props regex admits negative k — the two must agree on -5 → -1
        channelCol = expr(
          """(CAST(get_json_object(props, '$.k') AS BIGINT)
            | - pmod(CAST(get_json_object(props, '$.k') AS BIGINT), 10))
            | DIV 10""".stripMargin))),
    "q258_novelty_curve" -> ((s, d) =>
      // crawl-health monitor: per ingest batch (50 id-ordered docs),
      // distinct 3-shingles present vs never-before-seen — first-seen is
      // ONE hash-keyed min aggregate, never a per-batch rescan; novelty
      // share in integer ppm; the time-axis twin of q257's source curve
      TextAnalysis.noveltyCurve(T(s, d, "documents"))),
    "q257_source_coverage" -> ((s, d) =>
      // mixture-design evidence: facility-location greedy over sources —
      // each round picks the source adding the most unseen 3-shingles;
      // the diminishing-returns curve that prices the next crawl; corpus
      // reduces once to (source, hash), rounds are anti-join + argmax
      Sampling.greedySourceCoverage(T(s, d, "documents"), rounds = 5)),
    "q256_benford_audit" -> ((s, d) =>
      // forensic data-quality audit: first-digit distribution of price
      // cents vs Benford's law — integer ppm shares, per-digit chi²
      // contribution in one shared IEEE op order; all 9 digit rows
      // always present
      Profile.benfordAudit(
        T(s, d, "lineitem").select(
          round(col("l_extendedprice") * 100).cast("long").as("cents")),
        "cents")),
    "q255_cusum_alarm" -> ((s, d) =>
      // control-chart changepoint monitor: one-sided CUSUM of the daily
      // micro-cent mean per event type — all-integer recurrence folded
      // map-only over the bounded day array, replayed by a recursive-CTE
      // oracle; catches sustained shifts no single-day z-score sees
      Resample.cusumAlarm(Tables.events(s, d), "event_type", "ts",
        "value")),
    "q254_distinctive_terms" -> ((s, d) =>
      // corpus curation lens: "Fightin' Words" log-odds z-scores with
      // the corpus as informative Dirichlet prior — top-5 over-
      // represented terms per source; integer counts inside every
      // ln/sqrt, round-6 before the bounded-heap top-k, term tiebreak
      TextAnalysis.distinctiveTerms(T(s, d, "documents"), k = 5)),
    "q253_pack_partners" -> ((s, d) =>
      // q252's plan realized at doc level: per-length id-ordered ranks
      // map into the trace's consumption intervals (broadcast range
      // filter on an equi-join), partners meet on (step, slot) —
      // a pack is addressable without any further shuffle
      Packing.complementPackAssign(
        T(s, d, "documents").select(col("doc_id"),
          graft.functions.tokenCount(col("text")).cast("long")
            .as("n_toks")),
        "doc_id", "n_toks", capacity = 256)),
    "q252_complement_packing" -> ((s, d) =>
      // no-split packing plan (SPFHP-family, <=2 docs/pack): bulk
      // complement greedy over the <=256-row length histogram — corpus
      // reduces map-side to the histogram, the driver loop touches only
      // that (the UniMax frozen-snapshot discipline); the oracle replays
      // the identical integer recurrence as a recursive CTE
      Packing.complementPackingPlan(
        T(s, d, "documents").select(
          graft.functions.tokenCount(col("text")).cast("long")
            .as("n_toks")),
        "n_toks", capacity = 256)),
    "q251_degree_assortativity" -> ((s, d) =>
      // graph-topology audit: Newman degree assortativity of the
      // customer–part purchase graph (bipartite wiring → expect it
      // negative) — exact integer moment sums, two separately-rooted
      // variances, one rounded division; no windows, nothing collects
      // r16: LONG-encoded nodes (customer 2k, part 2k+1 — the q246
      // spelling): the output is three scalar aggregates over the
      // isomorphic graph, node labels never appear, so only the shuffle
      // key width changes (guide §2.3)
      Graph.degreeAssortativity(
        T(s, d, "lineitem")
          .join(T(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          // cast-to-long before *2: Int32 keys at large SF would hit
          // ANSI ARITHMETIC_OVERFLOW (q246's guard, same encode)
          .select((col("o_custkey").cast("long") * 2).as("src"),
            (col("l_partkey").cast("long") * 2 + 1).as("dst")))),
    "q250_quality_governance" -> ((s, d) =>
      // capstone v9 — the model-review page for the frozen quality
      // filter in ONE oracle row: rank-sum AUC/Gini, tie-block AP,
      // best-F1 operating point, and expected calibration error, all
      // off one scored scan (q242 + q231 composed, shared j relation
      // in the oracle)
      TextAnalysis.classifierGovernanceReport(
        TextAnalysis.qualityLogistic(T(s, d, "documents"),
            carryCols = Seq("lang"))
          .withColumn("is_en", (col("lang") === "en").cast("int")),
        "quality_prob", "is_en")),
    "q249_lang_source_assoc" -> ((s, d) =>
      // corpus-composition audit: chi-square independence of language ×
      // source with Cramér's V effect size — integer cell identities
      // inside the nano-snapped sum, one sqrt at the end; runs on the
      // r×c contingency grid, never the corpus
      Quantiles.catAssociation(T(s, d, "documents"), "lang", "source")),
    "q248_feature_mi" -> ((s, d) =>
      // feature-selection scorecard: mutual information (nats) of each
      // heuristic quality feature with the is-English label — decile
      // bins over each feature's own range, integer joint/marginal
      // products inside the log, nano-snapped order-free sum
      TextAnalysis.featureMutualInfo(
        TextAnalysis.qualityScore(T(s, d, "documents"),
            carryCols = Seq("lang"))
          .withColumn("is_en", (col("lang") === "en").cast("int")),
        Seq("n_tokens", "mean_token_len", "stopword_ratio",
          "punct_ratio"), "is_en")),
    "q235_binary_quant_topk" -> ((s, d) => {
      // sign-bit binary-quantization ANN: 64 dims → two 32-bit codes
      // (24 bytes/vector on the wire, ~20× under the float64 array),
      // integer-exact Hamming shortlist cut by the native GroupedTopK,
      // exact cosine re-rank of the 40 survivors fetched once
      val emb = T(s, d, "embeddings")
      Similarity.binaryQuantTopK(emb,
        emb.filter(col("vec_id") % 101 === 0), shortlist = 40, k = 10)
    }),
    "q210_mutual_knn_ivf" -> ((s, d) =>
      // the IVF kNN-graph tier end-to-end: with every cell probed the
      // candidate set is complete, so the census is tier-equivalent to
      // q201 (same oracle — the q37/q77 discipline); graph + CC cached
      // per session, shared with the IVF eval trio q224–q226
      knnCensus(Dedup.cachedClusters(s, knnIvfClustersPath(s, d)))),
    "q172_fuzzy_part_pairs" -> ((s, d) =>
      // entity resolution over part names: first-token equality blocking
      // → Jaro-Winkler verify (codegen'd expression pinned to DuckDB's
      // exact semantics), rounded to 6 before the threshold
      Dedup.jaroWinklerPairs(T(s, d, "part"), "p_name",
        threshold = 0.85)),
    "q173_temperature_mixture" -> ((s, d) =>
      // α=1/2 temperature flattening of the per-source mixture: rates
      // derived via engine-exact ⌊√(n·10^6)⌋ integer math, map-only
      // portable hash gate — corpus never shuffles
      Sampling.sampleToTemperature(T(s, d, "documents"), "source",
          "doc_id", outPct = 60)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          expr("bit_xor(doc_id)").as("id_checksum"))),
    "q174_fuzzy_name_clusters" -> ((s, d) => {
      // entity-resolution CLUSTERS: q172's blocked fuzzy pairs →
      // label-propagation connected components (the shared q38 core) on
      // portable-hashed name ids → names joined back. The rep is the
      // min-hash member — engine-identical because both hash identically
      val names = Dedup.jaroWinklerPairs(T(s, d, "part"), "p_name",
        threshold = 0.85)
      val pairs = names.select(
        graft.functions.md5Hash31(col("name_a")).as("id_a"),
        graft.functions.md5Hash31(col("name_b")).as("id_b"))
      val clusters = Dedup.clusterNearDups(pairs)
      val nameHash = T(s, d, "part")
        .select(col("p_name").as("s")).filter(col("s").isNotNull).distinct()
        .select(col("s"), graft.functions.md5Hash31(col("s")).as("h"))
      clusters
        .join(nameHash, col("doc_id") === col("h"))
        .select(col("s").as("p_name"), col("cluster_rep"))
        .join(nameHash.select(col("s").as("rep_name"),
          col("h").as("__rh")), col("cluster_rep") === col("__rh"))
        .select(col("p_name"), col("rep_name"))
    }),
    "q175_stratified_ksample" -> ((s, d) => {
      // deterministic k-per-stratum sample: portable-hash order makes the
      // selection stable under re-runs/appends, and the bounded-buffer
      // GroupedTopK operator picks k per source with NO per-group sort
      val scored = T(s, d, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.md5Hash31(col("doc_id").cast("string"))
            .as("rank_key"))
      graft.plans.TopK.perGroup(scored, Seq("source"),
        Seq(("rank_key", false), ("doc_id", false)), k = 5)
    }),
    "q176_containment_pairs" -> ((s, d) => {
      // doc-inside-doc detection: the corpus unioned with first-half
      // truncations (ids offset by 1e6 — every half is genuinely
      // contained in its original, the prefix property guarantees its
      // shingles are a subset); min-shingle anchoring + sorted-hash
      // intersect verify
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val toks = graft.functions.tokens(col("text"))
      val halves = docs.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(toks, lit(1),
          greatest((size(toks) / 2).cast("int"), lit(1))), " ").as("text"))
      Dedup.containmentPairs(docs.unionByName(halves), "doc_id", "text",
        k = 3, threshold = 0.9)
    }),
    "q177_ngram_novelty" -> ((s, d) =>
      // diversity scoring: fraction of each doc's distinct 3-grams
      // unseen in the src1-3 reference slice; gram-keyed join over
      // portable hashes, integer counts, one rounded division
      TextAnalysis.ngramNovelty(T(s, d, "documents"),
        col("source").isin("src1", "src2", "src3"))),
    "q178_curation_pipeline" -> ((s, d) => {
      // capstone v4 — the round's data-mixing ops composed in ONE plan:
      // DSIR importance selection (keep > corpus p75) feeding α=1/2
      // temperature flattening whose rates derive from the SELECTED
      // counts, finished with a per-source rollup + integer checksums
      val docs = T(s, d, "documents")
      val w = Sampling.dsirWeights(docs,
        col("source").isin("src1", "src2", "src3"))
      val thr = w.agg(round(expr("percentile(dsir_ppm, 0.75D)"), 6)
        .as("__thr"))
      val sel = w.crossJoin(broadcast(thr))
        .filter(col("dsir_ppm") > col("__thr"))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"))
      Sampling.sampleToTemperature(sel, "source", "doc_id", outPct = 60)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          expr("bit_xor(doc_id)").as("id_checksum"))
    }))

  /** q112/q269 input — the corpus with the deterministic synthetic PII
    * layer appended (emails on doc_id%3, IPs on %5, phones on %7), the
    * source column carried for the per-provider census.
    */
  private def piiInjectedDocs(s: SparkSession, d: String): DataFrame =
    T(s, d, "documents").select(col("doc_id"), col("source"),
      col("lang"), col("n_chars"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))

  /** q153/q154 input — Lee-et-al-style verbatim span mining over the
    * word-soup corpus, which has no natural multi-token cross-doc runs; so
    * (like q135's header injection) each doc pair (2g, 2g+1) gets a shared
    * 5-token preamble keyed by g = doc_id div 2 — a guaranteed 3-gram
    * diagonal per pair, rare enough (occ=2) to survive the hot-gram cap.
    * Exact duplicate documents in the corpus surface as full-length runs
    * identically in both engines (or are cap-dropped identically when
    * over-copied).
    */
  private def pairInjectedDocs(s: SparkSession, d: String): DataFrame = {
    val g = floor(col("doc_id") / lit(2)).cast("long")
    T(s, d, "documents").select(col("doc_id"),
      concat(lit("px"), g, lit(" qx"), g, lit(" rx"), g,
        lit(" sx"), g, lit(" tx"), g, lit(" "), col("text")).as("text"))
  }

  // ---------------------------------------------------------- oracle SQL

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_extendedprice) AS avg_price,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_projection" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem",
    "q03_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05""".stripMargin,
    "q04_regional_revenue" ->
      """SELECT r_name, n_name, sum(o_totalprice) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q05_group_median" ->
      """SELECT l_returnflag,
        |  median(l_quantity) AS median_qty,
        |  median(l_extendedprice) AS median_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q06_group_minmax" ->
      """SELECT l_linestatus,
        |  max(l_extendedprice) AS max_price,
        |  min(l_extendedprice) AS min_price,
        |  avg(l_extendedprice) AS avg_price
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,
    "q07_union_all" ->
      """SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier""".stripMargin,
    "q08_window_topn" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn
        |FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |        CAST(row_number() OVER (PARTITION BY l_suppkey
        |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INTEGER) AS rn
        |      FROM lineitem)
        |WHERE rn <= 3""".stripMargin,
    "q09_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q10_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q11_geo_median" -> geoAggSql("median"),
    "q12_geo_mean" -> geoAggSql("avg"),
    "q13_geo_max" -> geoAggSql("max"),
    "q14_add_country" -> addCountryOracleSql,
    "q69_grid_country" -> addCountryOracleSql, // tier-equivalence: same semantics
    "q15_json_extract" ->
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
        |FROM events""".stripMargin,
    "q16_hourly_rollup" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  event_type, count(*) AS n_events, sum(value) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q17_window_lag" ->
      """SELECT event_id, user_id, value,
        |  value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        |FROM events""".stripMargin,
    "q18_dedup_exact" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)""".stripMargin,
    "q19_token_stats" -> {
      val bpe = TextAnalysis.bpeSplitPattern.replace("'", "''")
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS INTEGER) AS n_tokens,
         |  CAST(len(trim(text)) AS INTEGER) AS n_chars_trim,
         |  CAST(len(list_distinct($toksSql)) AS INTEGER) AS n_distinct_tokens,
         |  CAST(len(list_filter(regexp_extract_all(text, '$bpe'),
         |        m -> regexp_matches(m, '[^ \\t\\n\\f\\r]'))) AS INTEGER) AS n_bpe_tokens
         |FROM documents""".stripMargin
    },
    "q20_corpus_summary" ->
      s"""WITH t AS (SELECT lang, len($toksSql) AS n_tokens, n_chars FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  avg(n_tokens) AS avg_tokens,
         |  CAST(avg(n_chars) AS DOUBLE) AS avg_chars
         |FROM t GROUP BY lang""".stripMargin,
    "q21_jaccard_adjacent" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($toksSql) AS toks FROM documents)
         |SELECT a.doc_id AS doc_id,
         |  CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
         |            / len(list_distinct(list_concat(a.toks, b.toks))) END AS jaccard_next
         |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "q22_cosine_topk" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS ae FROM embeddings),
         |scored AS (
         |  SELECT vec_id,
         |    list_sum(list_transform(range(1, 65), i -> ae[i] * qe[i]))
         |    / (sqrt(list_sum(list_transform(range(1, 65), i -> ae[i] * ae[i])))
         |       * sqrt(list_sum(list_transform(range(1, 65), i -> qe[i] * qe[i])))) AS sim
         |  FROM v, q WHERE vec_id <> 0)
         |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "q23_knn" -> knnOracleSql,
    "q75_knn_blocked" -> knnOracleSql, // tier-equivalence: same semantics
    "q25_langid_counts" ->
      s"""WITH $langPredCtesSql
         |SELECT lang_pred, count(*) AS n_docs FROM lpred
         |GROUP BY lang_pred""".stripMargin,
    "q31_blocked_jaccard_neardup" ->
      s"""WITH capped AS (SELECT doc_id, lang, source, text FROM (
         |    SELECT doc_id, lang, source, text,
         |      row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS r
         |    FROM documents) WHERE r <= 1000),
         |t AS (SELECT doc_id, lang, source, list_distinct($toksSql) AS toks
         |           FROM capped)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard_sim
         |FROM t a JOIN t b
         |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |WHERE len(a.toks) + len(b.toks) > 0
         |  AND CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9""".stripMargin,
    "q32_embedding_neardup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
        |             sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS n
        |           FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i])) / (a.n * b.n) AS cosine_sim
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i])) / (a.n * b.n) >= 0.4""".stripMargin,
    "q26_minhash_sigs" ->
      s"""WITH params(perm, a, b) AS (VALUES
         |  $minhashParamsSql),
         |${shingleCtesSql(3)},
         |h AS (SELECT doc_id, list_transform(s, x -> ${hash31Sql("x")}) AS hs FROM sh)
         |SELECT doc_id, CAST(perm AS INTEGER) AS perm,
         |  coalesce(list_min(list_transform(hs, x -> (a * x + b) % 2147483647)),
         |           2147483647) AS sig
         |FROM h CROSS JOIN params""".stripMargin,
    "q27_simhash" ->
      s"""WITH h AS (SELECT doc_id,
         |    list_transform(list_filter(string_split_regex(trim(text), '\\s+'),
         |                               x -> len(x) > 0),
         |      t -> ${hash60Sql("t")}) AS hs
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform(range(0, 60), i ->
         |    CASE WHEN coalesce(list_sum(list_transform(hs, h ->
         |           CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
         |         THEN (1::BIGINT << i) ELSE 0::BIGINT END)), 0) AS BIGINT) AS simhash60
         |FROM h""".stripMargin,
    "q28_srp_buckets" ->
      s"""WITH planes(i, p) AS (VALUES
         |  ${planesValuesSql(64, 8)}),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
         |SELECT vec_id,
         |  CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65), j -> e[j] * p[j])) >= 0
         |           THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS BIGINT) AS bucket
         |FROM v CROSS JOIN planes GROUP BY vec_id""".stripMargin,
    "q29_multimodal_features" -> {
      val fcols = (0 until 8).map(i =>
        s"((${hash31Sql(s"hx || $i")}) % 1000003)::DOUBLE / 1000003 AS f$i").mkString(",\n  ")
      s"""WITH m AS (SELECT doc_id AS media_id,
         |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
         |    sha256(CAST(doc_id AS VARCHAR)) AS hx,
         |    CAST(doc_id % 640 + 32 AS INTEGER) AS width,
         |    CAST(doc_id % 480 + 32 AS INTEGER) AS height,
         |    doc_id % 60000 AS duration_ms
         |  FROM documents)
         |SELECT media_id, kind,
         |  CAST(octet_length(from_hex(hx)) AS INTEGER) AS n_bytes,
         |  width, height, duration_ms,
         |  $fcols
         |FROM m""".stripMargin
    },
    "q30_bucketed_topk" ->
      s"""WITH planes(i, p) AS (VALUES
         |  ${planesValuesSql(64, 4)}),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |b AS (SELECT vec_id,
         |    CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65), j -> e[j] * p[j])) >= 0
         |             THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS BIGINT) AS bucket
         |  FROM v CROSS JOIN planes GROUP BY vec_id),
         |q AS (SELECT e AS qe, bucket AS qb FROM v JOIN b USING (vec_id) WHERE vec_id = 0)
         |SELECT v.vec_id,
         |  ${cosSql("v.e", "qe")} AS sim
         |FROM v JOIN b USING (vec_id), q
         |WHERE b.bucket = qb AND v.vec_id <> 0
         |ORDER BY sim DESC, v.vec_id LIMIT 10""".stripMargin,
    "q33_minhash_lsh_neardup" ->
      s"""WITH ${jaccardPairCtesSql(2, 0.8)}
         |SELECT id_a, id_b, jaccard_sim FROM jp""".stripMargin,
    "q37_ivf_topk" -> ivfOracleSql,
    "q77_ivf_indexed" -> ivfOracleSql, // tier-equivalence: same semantics
    "q38_neardup_clusters" ->
      s"""WITH RECURSIVE ${jaccardPairCtesSql(2, 0.8)},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION ALL SELECT id_b, id_a FROM jp),
         |reach(src, dst) AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
         |FROM reach GROUP BY src""".stripMargin,
    // tier-equivalence pair with q38: the incremental base+batch merge
    // must land on exactly the full-corpus exact-CC relation
    "q276_incremental_clusters" ->
      s"""WITH RECURSIVE ${jaccardPairCtesSql(2, 0.8)},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION ALL SELECT id_b, id_a FROM jp),
         |reach(src, dst) AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
         |FROM reach GROUP BY src""".stripMargin,
    "q34_rollup_revenue" ->
      """SELECT r_name, n_name, sum(o_totalprice) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q35_distinct_users_per_type" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,
    "q36_asof_last_purchase" ->
      """SELECT c.event_id, c.user_id, p.value AS last_purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts > p.ts""".stripMargin,
    "q39_props_stats" ->
      """SELECT event_type,
        |  avg(k) AS avg_k,
        |  CAST(min(k) AS INTEGER) AS min_k,
        |  CAST(max(k) AS INTEGER) AS max_k
        |FROM (SELECT event_type,
        |        CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INTEGER) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,
    "q40_scalar_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  upper(substring(o_orderpriority, 1, 3)) AS prio3,
        |  round(round(o_totalprice * 100) / 1000) / 100 AS kprice
        |FROM orders
        |WHERE o_orderpriority LIKE '%URGENT%' OR o_orderstatus = 'F'""".stripMargin,
    "q41_price_buckets" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'medium'
        |            ELSE 'large' END AS bucket,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "q42_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q43_semi_anti" ->
      """SELECT 'with_orders' AS kind, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'no_orders' AS kind, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q46_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q47_above_customer_avg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
        |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
        |        avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
        |      FROM orders)
        |WHERE o_totalprice > cust_avg""".stripMargin,
    "q48_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM supplier
        |JOIN lineitem ON s_suppkey = l_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,
    "q49_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "q50_cube_revenue" ->
      """SELECT r_name, o_orderstatus, sum(o_totalprice) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, o_orderstatus)""".stripMargin,
    "q51_sessionization" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  epoch_us(min(ts)) AS session_start_us,
        |  count(*) AS n_events, sum(value) AS total_value
        |FROM sessions GROUP BY user_id, session_seq""".stripMargin,
    "q73_full_outer_balance" ->
      """WITH c AS (SELECT c_nationkey AS nk_c, sum(c_acctbal) AS cust_neg_bal,
        |             count(*) AS n_cust
        |           FROM customer WHERE c_acctbal < 0 GROUP BY 1),
        |s AS (SELECT s_nationkey AS nk_s, sum(s_acctbal) AS supp_neg_bal,
        |        count(*) AS n_supp
        |      FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
        |SELECT coalesce(nk_c, nk_s) AS nationkey,
        |  cust_neg_bal, n_cust, supp_neg_bal, n_supp
        |FROM c FULL OUTER JOIN s ON nk_c = nk_s""".stripMargin,
    "q74_grouping_sets" ->
      """SELECT r_name, o_orderstatus, sum(o_totalprice) AS revenue,
        |  count(*) AS n_orders,
        |  CAST(GROUPING(r_name, o_orderstatus) AS INTEGER) AS gid
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, o_orderstatus), (r_name), ())""".stripMargin,
    "q70_approx_percentiles" ->
      // the ok gates are literal true on the oracle side: DuckDB verifies
      // the exact values; the Spark side verifies the sketch against them
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90,
        |  quantile_cont(value, 0.99) AS p99,
        |  true AS p50_ok, true AS p90_ok, true AS p99_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q71_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  true AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q72_approx_quality_filter" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CASE WHEN len($toksSql) = 0 THEN 0.0
         |         ELSE len(regexp_replace(text, '\\s', '', 'g')) / CAST(len($toksSql) AS DOUBLE)
         |    END AS mean_token_len
         |  FROM documents),
         |b AS (SELECT quantile_cont(mean_token_len, 0.05) AS lo,
         |             quantile_cont(mean_token_len, 0.95) AS hi
         |      FROM scored)
         |SELECT count(*) AS n_exact, true AS approx_band_ok
         |FROM scored, b WHERE mean_token_len >= lo AND mean_token_len <= hi""".stripMargin,
    "q52_percentiles" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90,
        |  quantile_cont(value, 0.99) AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    "q53_term_freq_topk" ->
      """WITH terms AS (
        |  SELECT lang,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> len(x) > 0)) AS token
        |  FROM documents),
        |counts AS (SELECT lang, token, count(*) AS n_occurrences
        |           FROM terms GROUP BY lang, token)
        |SELECT lang, token, n_occurrences FROM (
        |  SELECT lang, token, n_occurrences,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_occurrences DESC, token) AS rn
        |  FROM counts)
        |WHERE rn <= 5""".stripMargin,
    "q54_winnow_fingerprints" ->
      s"""WITH ${winnowFpCtesSql(3, 4)}
         |SELECT doc_id, unnest(fps) AS fp FROM fp""".stripMargin,
    "q45_grouped_topk" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
        |FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_suppkey
        |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn <= 3""".stripMargin,
    "q44_setops" ->
      """SELECT p_brand, 'ordered' AS status FROM (
        |  SELECT p_brand FROM part
        |  INTERSECT
        |  SELECT p_brand FROM lineitem JOIN part ON l_partkey = p_partkey)
        |UNION ALL
        |SELECT p_brand, 'never_ordered' AS status FROM (
        |  SELECT p_brand FROM part
        |  EXCEPT
        |  SELECT p_brand FROM lineitem JOIN part ON l_partkey = p_partkey)""".stripMargin,
    "q55_promo_revenue" ->
      """SELECT 100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                        THEN l_extendedprice * (1 - l_discount)
        |                        ELSE 0.0 END)
        |       / sum(l_extendedprice * (1 - l_discount)) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin,
    "q56_supplier_part_counts" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (1, 7, 14, 23) AND p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size""".stripMargin,
    "q57_event_pivot" ->
      """SELECT user_id % 10 AS user_decile,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "q58_hash_sample" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE (${hash31Sql("CAST(doc_id AS VARCHAR)")}) % 100 < 5""".stripMargin,
    "q68_normalized_dedup" ->
      """WITH n AS (SELECT doc_id, lang, n_chars,
        |    trim(regexp_replace(
        |      regexp_replace(lower(text), '[.,!?;:''"()\[\]{}]', '', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM n
        |WHERE doc_id IN (SELECT min(doc_id) FROM n GROUP BY norm)""".stripMargin,
    "q66_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 150)""".stripMargin,
    "q67_min_cost_supplier" ->
      """WITH costs AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |best AS (
        |  SELECT l_partkey, cost AS best_cost, l_suppkey AS best_supp
        |  FROM (SELECT l_partkey, l_suppkey, cost,
        |          row_number() OVER (PARTITION BY l_partkey
        |            ORDER BY cost, l_suppkey) AS rn
        |        FROM costs) WHERE rn = 1)
        |SELECT p_partkey, p_brand, best_supp, best_cost
        |FROM best JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 10""".stripMargin,
    "q65_multimodal_mapPartitions" -> {
      val fcols = (0 until 8).map(i =>
        s"(((('0x' || substring(md5(CAST(h AS VARCHAR) || '_' || $i), 1, 8))::BIGINT"
          + s" % 2147483647) % 1000003))::DOUBLE / 1000003 AS f$i").mkString(",\n  ")
      s"""WITH m AS (SELECT doc_id AS media_id,
         |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
         |    sha256(CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents),
         |rolled AS (SELECT media_id, kind,
         |    CAST(octet_length(from_hex(hx)) AS INTEGER) AS n_bytes,
         |    list_reduce(
         |      list_prepend(0::BIGINT,
         |        list_transform(range(0, CAST(len(hx) // 2 AS INTEGER)),
         |          j -> ('0x' || substring(hx, CAST(j * 2 + 1 AS INTEGER), 2))::BIGINT)),
         |      (a, b) -> (31 * a + b) % 2147483647) AS h
         |  FROM m)
         |SELECT media_id, kind, n_bytes,
         |  $fcols
         |FROM rolled""".stripMargin
    },
    "q63_quality_filter" -> {
      // mean_token_len must mirror TextAnalysis.qualityScore exactly (same
      // expression q24 already hash-matches)
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CASE WHEN len($toksSql) = 0 THEN 0.0
         |         ELSE len(regexp_replace(text, '\\s', '', 'g')) / CAST(len($toksSql) AS DOUBLE)
         |    END AS mean_token_len
         |  FROM documents),
         |b AS (SELECT quantile_cont(mean_token_len, 0.05) AS lo,
         |             quantile_cont(mean_token_len, 0.95) AS hi
         |      FROM scored)
         |SELECT doc_id, mean_token_len FROM scored, b
         |WHERE mean_token_len >= lo AND mean_token_len <= hi""".stripMargin
    },
    "q64_stratified_sample" ->
      s"""SELECT lang, count(*) AS n_docs FROM documents
         |WHERE (${hash31Sql("CAST(doc_id AS VARCHAR)")}) % 100 <
         |      CASE WHEN lang = 'en' THEN 20 ELSE 60 END
         |GROUP BY lang""".stripMargin,
    "q61_moving_avg" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS order_day,
        |         sum(o_totalprice) AS day_revenue
        |  FROM orders GROUP BY 1)
        |SELECT CAST(epoch(CAST(order_day AS TIMESTAMP)) AS BIGINT) AS day_epoch,
        |  day_revenue,
        |  avg(day_revenue) OVER (ORDER BY order_day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7
        |FROM daily""".stripMargin,
    "q62_group_concat" ->
      """SELECT r_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q59_incremental_dedup" ->
      """WITH batchf AS (
        |  SELECT * FROM documents WHERE doc_id >= 400
        |    AND text NOT IN (SELECT text FROM documents WHERE doc_id < 400))
        |SELECT doc_id, lang, n_chars FROM batchf
        |WHERE doc_id IN (SELECT min(doc_id) FROM batchf GROUP BY text)""".stripMargin,
    "q60_incremental_neardup" -> incrementalNearDupOracleSql,
    "q76_indexed_neardup" -> incrementalNearDupOracleSql, // tier-equivalence
    "q78_window_stats" ->
      """SELECT o_orderkey, o_orderpriority,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cum_dist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin,
    "q79_date_functions" ->
      """SELECT o_orderkey,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  dayofweek(o_orderdate) + 1 AS dow_sun1,
        |  quarter(o_orderdate) AS qtr,
        |  weekofyear(o_orderdate) AS iso_week,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy
        |FROM orders""".stripMargin,
    "q80_string_functions" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  levenshtein(p_name, p_type) AS name_type_dist,
        |  lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
        |  reverse(p_name) AS name_rev,
        |  instr(p_name, 're') AS re_pos,
        |  translate(p_type, 'AEIOU', 'aeiou') AS type_lower_vowels
        |FROM part""".stripMargin,
    "q81_tfidf_top_terms" ->
      s"""WITH terms AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tfc AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tfc.term AS term,
         |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
         |  FROM tfc JOIN dfc ON tfc.term = dfc.term CROSS JOIN n)
         |SELECT doc_id, term, tfidf FROM (
         |  SELECT doc_id, term, tfidf,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf DESC, term) AS rn
         |  FROM scored)
         |WHERE rn <= 3""".stripMargin,
    "q82_stat_aggregates" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        |  round(covar_pop(l_quantity, l_extendedprice), 4) AS qty_price_covar,
        |  round(stddev_samp(l_discount), 6) AS discount_sd,
        |  round(var_pop(l_tax), 6) AS tax_var
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q84_pack_sequences" ->
      s"""WITH t AS (SELECT lang, doc_id, doc_id % 4 AS shard,
         |    len($toksSql) AS n_tokens
         |  FROM documents)
         |SELECT lang, doc_id, shard, n_tokens,
         |  CAST(floor(coalesce(sum(n_tokens) OVER (
         |    PARTITION BY lang, shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
         |    AS BIGINT) AS pack_id
         |FROM t""".stripMargin,
    "q85_contamination_check" -> contaminationOracleSql,
    "q101_contamination_indexed" -> contaminationOracleSql, // tier-equivalence
    "q102_null_robustness" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN value < 50 THEN NULL
        |         ELSE CAST(floor(value / 10) AS BIGINT) END AS v
        |  FROM events),
        |dd AS (SELECT * FROM e WHERE event_id IN (
        |  SELECT min(event_id) FROM e GROUP BY event_type, v)),
        |stats AS (
        |  SELECT event_type, count(*) AS n_kept,
        |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null_kept,
        |    count(v) AS n_nonnull_kept,
        |    min(v) AS v_min, max(v) AS v_max
        |  FROM dd GROUP BY event_type),
        |c AS (SELECT event_type, v, count(*) AS n FROM e
        |      WHERE v IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n) AS t FROM c GROUP BY 1),
        |ent AS (
        |  SELECT c.event_type,
        |    round(-sum((n / t) * ln(CAST(n AS DOUBLE) / t)), 6) AS v_entropy
        |  FROM c JOIN t USING (event_type) GROUP BY c.event_type)
        |SELECT event_type, n_kept, n_null_kept, n_nonnull_kept,
        |  v_min, v_max, v_entropy
        |FROM stats LEFT JOIN ent USING (event_type)""".stripMargin,
    "q103_exists_windowed_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM (
        |    SELECT o_custkey, o_orderpriority,
        |      row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey) AS rn
        |    FROM orders) w
        |  WHERE w.o_custkey = c.c_custkey AND w.rn = 1
        |    AND w.o_orderpriority = '1-URGENT')""".stripMargin,
    "q104_sql_top1_per_key" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice FROM (
        |  SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
        |    row_number() OVER (PARTITION BY c.c_custkey
        |      ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
        |WHERE rn = 1""".stripMargin,
    "q105_incremental_etl" ->
      // from-scratch daily rollup: the incremental two-batch upsert must
      // converge to exactly this (q16's proven unrounded-double pattern)
      """SELECT event_type,
        |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  sum(value) AS day_total, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q106_rolling_fingerprint" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents)
         |SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(t, x -> ${hash31Sql("x")})),
         |    (acc, h) -> (acc * 31 + h) % 2147483647) AS fp
         |FROM toks""".stripMargin,
    "q107_repetition_flags" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |base AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
         |    list_transform(range(1, greatest(len(t), 1)),
         |      i -> t[i] || ' ' || t[i + 1]) AS bg
         |  FROM toks),
         |bgc AS (SELECT doc_id, b, count(*) AS c
         |  FROM (SELECT doc_id, unnest(bg) AS b FROM base) GROUP BY 1, 2),
         |agg AS (SELECT doc_id, max(c) AS maxc, sum(c) AS nbg FROM bgc GROUP BY 1),
         |f AS (SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
         |    CASE WHEN n > 0 THEN round(1.0 - CAST(nd AS DOUBLE) / n, 6)
         |         ELSE 0.0 END AS dup_token_frac,
         |    CASE WHEN coalesce(nbg, 0) > 0
         |         THEN round(CAST(maxc AS DOUBLE) / nbg, 6)
         |         ELSE 0.0 END AS top_bigram_frac
         |  FROM base LEFT JOIN agg USING (doc_id))
         |SELECT doc_id, n_tokens, dup_token_frac, top_bigram_frac,
         |  CAST(dup_token_frac > 0.6 OR top_bigram_frac > 0.05 AS INTEGER)
         |    AS repetitive
         |FROM f""".stripMargin,
    "q108_mixture_sample" ->
      s"""WITH counts AS (SELECT lang, count(*) AS nd FROM documents GROUP BY lang),
         |total AS (SELECT count(*) AS t FROM documents),
         |rates AS (SELECT lang, least(1000000,
         |    (1000000 * (((t * 60) // 100) *
         |      (CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 15 WHEN 'es' THEN 15
         |                 WHEN 'fr' THEN 15 WHEN 'zh' THEN 15 ELSE 0 END) // 100))
         |      // nd) AS ppm
         |  FROM counts CROSS JOIN total),
         |kept AS (SELECT d.lang AS lang, doc_id
         |  FROM documents d JOIN rates USING (lang)
         |  WHERE (${hash31Sql("CAST(doc_id AS VARCHAR)")}) % 1000000 < ppm)
         |SELECT lang, count(*) AS n_kept, bit_xor(doc_id) AS id_checksum
         |FROM kept GROUP BY lang""".stripMargin,
    "q109_token_budget_trim" ->
      s"""WITH d AS (SELECT doc_id, lang, len($toksSql) AS ntok,
         |    n_chars // 50 AS bucket FROM documents),
         |hist AS (SELECT lang, bucket, sum(ntok) AS btok FROM d GROUP BY 1, 2),
         |cum AS (SELECT lang, bucket,
         |    coalesce(sum(btok) OVER (PARTITION BY lang ORDER BY bucket DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM hist),
         |keptb AS (SELECT lang, bucket FROM cum WHERE cumb < 2000),
         |kept AS (SELECT d.* FROM d JOIN keptb USING (lang, bucket))
         |SELECT lang, count(*) AS n_docs_kept,
         |  CAST(sum(ntok) AS BIGINT) AS tokens_kept,
         |  bit_xor(doc_id) AS id_checksum
         |FROM kept GROUP BY lang""".stripMargin,
    "q110_semantic_dedup" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cent AS (SELECT CAST(vec_id // 97 AS INTEGER) AS cell_id, e AS c
         |  FROM v WHERE vec_id % 97 = 0),
         |scored AS (SELECT v.vec_id, cent.cell_id,
         |    round(${cosSql("v.e", "cent.c")}, 6) AS sim
         |  FROM v CROSS JOIN cent),
         |assign AS (SELECT vec_id, cell_id FROM (
         |    SELECT vec_id, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
         |    FROM scored) WHERE rn = 1),
         |av AS (SELECT v.vec_id, e, cell_id FROM v JOIN assign USING (vec_id)),
         |dup AS (SELECT DISTINCT a.vec_id
         |  FROM av a JOIN av b ON a.cell_id = b.cell_id AND b.vec_id < a.vec_id
         |  WHERE round(${cosSql("a.e", "b.e")}, 6) >= 0.35)
         |SELECT av.vec_id, cell_id,
         |  CASE WHEN dup.vec_id IS NULL THEN 0 ELSE 1 END AS is_semdup
         |FROM av LEFT JOIN dup USING (vec_id)""".stripMargin,
    "q111_perplexity_buckets" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
         |total AS (SELECT count(*) AS total FROM toks),
         |scored AS (SELECT doc_id,
         |    round(-avg(ln(CAST(cnt AS DOUBLE) / total)), 6) AS ce
         |  FROM toks JOIN counts USING (token) CROSS JOIN total
         |  GROUP BY doc_id),
         |th AS (SELECT round(quantile_cont(ce, 0.25), 6) AS t1,
         |    round(quantile_cont(ce, 0.5), 6) AS t2,
         |    round(quantile_cont(ce, 0.75), 6) AS t3 FROM scored),
         |b AS (SELECT doc_id,
         |    CASE WHEN ce <= t1 THEN 1 WHEN ce <= t2 THEN 2
         |         WHEN ce <= t3 THEN 3 ELSE 4 END AS bucket
         |  FROM scored CROSS JOIN th),
         |kept AS (SELECT bucket, doc_id FROM b
         |  WHERE (${hash31Sql("CAST(doc_id AS VARCHAR)")}) % 100 <
         |    CASE bucket WHEN 1 THEN 100 WHEN 2 THEN 50
         |                WHEN 3 THEN 25 ELSE 10 END)
         |SELECT bucket, count(*) AS n_kept, bit_xor(doc_id) AS id_checksum
         |FROM kept GROUP BY bucket""".stripMargin,
    "q96_unigram_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
         |total AS (SELECT count(*) AS total FROM toks)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(-avg(ln(CAST(cnt AS DOUBLE) / total)), 6) AS cross_entropy
         |FROM toks JOIN counts USING (token) CROSS JOIN total
         |GROUP BY doc_id""".stripMargin,
    "q95_chunking" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |n AS (SELECT doc_id, tk, len(tk) AS n FROM t),
         |c AS (SELECT doc_id, tk,
         |    CASE WHEN n = 0 THEN []::BIGINT[]
         |         ELSE range(0, 1 + CASE WHEN n > 32
         |                               THEN (n - 32 + 15) // 16 ELSE 0 END)
         |    END AS idxs
         |  FROM n),
         |e AS (SELECT doc_id, tk, unnest(idxs) AS chunk_idx FROM c)
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |  CAST(len(list_slice(tk, chunk_idx * 16 + 1, chunk_idx * 16 + 32)) AS INT)
         |    AS n_chunk_tokens,
         |  ${hash31Sql("array_to_string(list_slice(tk, chunk_idx * 16 + 1, chunk_idx * 16 + 32), ' ')")}
         |    AS chunk_hash
         |FROM e""".stripMargin,
    "q100_training_pipeline" ->
      s"""WITH cleaned AS (
         |  SELECT doc_id, lang, $cleanTextSql AS ct FROM documents),
         |toked AS (
         |  SELECT doc_id, lang,
         |    ct, list_filter(string_split(ct, ' '), x -> len(x) > 0) AS tk
         |  FROM cleaned),
         |kept AS (SELECT * FROM toked WHERE len(tk) >= 10),
         |deduped AS (
         |  SELECT * FROM kept
         |  WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY ct)),
         |t AS (SELECT lang, doc_id, doc_id % 4 AS shard, len(tk) AS n_tokens
         |      FROM deduped),
         |packed AS (
         |  SELECT lang, shard,
         |    CAST(floor(coalesce(sum(n_tokens) OVER (
         |      PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
         |      AS BIGINT) AS pack_id,
         |    n_tokens
         |  FROM t)
         |SELECT lang, shard, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM packed GROUP BY 1, 2, 3""".stripMargin,
    "q97_mad_outliers" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
        |    round(sum(value), 4) AS day_total
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, quantile_cont(day_total, 0.5) AS med
        |        FROM daily GROUP BY 1),
        |dev AS (SELECT d.event_type, day_epoch, day_total, med,
        |    abs(day_total - med) AS dv
        |  FROM daily d JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(dv, 0.5) AS mad
        |        FROM dev GROUP BY 1),
        |scored AS (
        |  SELECT d.event_type, day_epoch, day_total,
        |    CASE WHEN mad > 0
        |         THEN round(0.6745 * (day_total - med) / mad, 6)
        |         ELSE 0.0 END AS robust_z
        |  FROM dev d JOIN mad USING (event_type))
        |SELECT event_type, day_epoch, day_total, robust_z,
        |  abs(robust_z) > 3.5 AS is_outlier
        |FROM scored""".stripMargin,
    "q98_histogram" ->
      """WITH b AS (
        |  SELECT CAST(least(greatest(floor(value / 25.0), 0), 19) AS INT) AS bin
        |  FROM events)
        |SELECT bin, bin * 25.0 AS bin_lo, count(*) AS n_events
        |FROM b GROUP BY bin""".stripMargin,
    "q99_type_entropy" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, sum(n) AS t FROM c GROUP BY 1)
        |SELECT c.user_id, CAST(sum(n) AS BIGINT) AS n_events,
        |  round(-sum((n / t) * ln(CAST(n AS DOUBLE) / t)), 6) AS type_entropy
        |FROM c JOIN t USING (user_id) GROUP BY c.user_id""".stripMargin,
    "q94_array_functions" ->
      """SELECT vec_id,
        |  list_min(embedding) AS v_min,
        |  list_max(embedding) AS v_max,
        |  round(list_sum(list_transform(embedding, x -> abs(x))), 6) AS l1_norm,
        |  round(list_sum(list_slice(embedding, 1, 3)), 6) AS first3_sum,
        |  len(list_filter(embedding, x -> x > 0)) AS n_positive,
        |  list_sort(embedding)[32] AS sorted_mid
        |FROM embeddings""".stripMargin,
    "q93_zscore_days" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
        |    sum(value) AS day_total
        |  FROM events GROUP BY 1, 2),
        |scored AS (
        |  SELECT event_type, day_epoch,
        |    round(day_total, 4) AS day_total,
        |    round((day_total - avg(day_total) OVER w)
        |          / stddev_samp(day_total) OVER w, 6) AS z
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type))
        |SELECT event_type, day_epoch, day_total, z, abs(z) > 1.5 AS is_outlier
        |FROM scored""".stripMargin,
    "q91_weighted_sample" ->
      s"""SELECT doc_id, lang, n_chars FROM (
         |  SELECT doc_id, lang, n_chars,
         |    row_number() OVER (ORDER BY
         |      round(pow(((${hash31Sql("CAST(doc_id AS VARCHAR)")}) % 1000003) / 1000003.0,
         |            1.0 / n_chars), 9) DESC, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 50""".stripMargin,
    "q92_resample_gaps" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    sum(value) AS day_total, count(*) AS n_events
        |  FROM events WHERE value >= 200 GROUP BY 1, 2),
        |span AS (SELECT event_type, min(day) AS mn, max(day) AS mx
        |         FROM daily GROUP BY 1),
        |grid AS (SELECT event_type,
        |    unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
        |  FROM span)
        |SELECT g.event_type, CAST(epoch(g.day) AS BIGINT) AS day_epoch,
        |  round(coalesce(d.day_total, 0), 4) AS day_total,
        |  coalesce(d.n_events, 0) AS n_events,
        |  d.day_total IS NULL AS filled
        |FROM grid g LEFT JOIN daily d
        |  ON g.event_type = d.event_type AND g.day = d.day""".stripMargin,
    "q90_profile" -> {
      val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      cols.map(c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_str,
           |  CAST(max($c) AS VARCHAR) AS max_str,
           |  true AS nd_ok
           |FROM orders""".stripMargin).mkString("\nUNION ALL\n")
    },
    "q89_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents),
         |c AS (SELECT token, count(*) AS n_occurrences FROM t GROUP BY token)
         |SELECT token, n_occurrences, true AS sketch_exact FROM (
         |  SELECT token, n_occurrences,
         |    row_number() OVER (ORDER BY n_occurrences DESC, token) AS rn
         |  FROM c)
         |WHERE rn <= 10""".stripMargin,
    "q88_range_join" ->
      """WITH win AS (SELECT r_regionkey,
        |    make_timestamp((1704067200::BIGINT + r_regionkey * 432000) * 1000000)
        |      AS w_start,
        |    make_timestamp((1704067200::BIGINT + r_regionkey * 432000 + 518400) * 1000000)
        |      AS w_end
        |  FROM region)
        |SELECT r_regionkey, count(*) AS n_events,
        |  round(sum(value), 4) AS total_value
        |FROM events e JOIN win w ON e.ts >= w.w_start AND e.ts <= w.w_end
        |GROUP BY r_regionkey""".stripMargin,
    "q87_text_cleaning" ->
      s"""SELECT doc_id,
         |  ${hash31Sql(s"($cleanTextSql)")} AS clean_hash,
         |  len(text) AS n_chars_raw,
         |  len($cleanTextSql) AS n_chars_clean
         |FROM documents""".stripMargin,
    "q86_quantize_int8" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |a AS (SELECT vec_id, e,
        |    list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
        |q AS (SELECT vec_id, e, amax / 127.0 AS scale,
        |    CASE WHEN amax = 0
        |         THEN list_transform(e, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(e, x -> CAST(round(x / (amax / 127.0)) AS BIGINT))
        |    END AS qv
        |  FROM a)
        |SELECT vec_id, scale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_norm2,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INT) AS n_saturated,
        |  round(list_sum(list_transform(range(1, len(e) + 1),
        |      i -> (e[i] - qv[i] * scale) * (e[i] - qv[i] * scale))) / len(e), 12)
        |    AS recon_mse
        |FROM q""".stripMargin,
    "q83_range_frame" ->
      """WITH daily AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
        |    event_type, sum(value) AS day_value
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day_epoch,
        |  round(sum(day_value) OVER (PARTITION BY event_type ORDER BY day_epoch
        |    RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW), 4) AS value_7d
        |FROM daily""".stripMargin,
    "q24_quality_score" -> qualityFeaturesSql,
    "q112_pii_redaction" ->
      // patterns rendered from the SAME Redact constants the Spark side
      // compiles (single source of truth — the boxesValuesSql pattern);
      // counts are taken on the same intermediate string each replace
      // runs on, mirroring Redact.scrub's email → IP → phone order
      s"""WITH pii AS ($piiInjectedCteSql),
         |s1 AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(t, '${graft.ops.Redact.emailPattern}')) AS INTEGER) AS n_emails,
         |    regexp_replace(t, '${graft.ops.Redact.emailPattern}', '<EMAIL>', 'g') AS t1
         |  FROM pii),
         |s2 AS (SELECT doc_id, n_emails,
         |    CAST(len(regexp_extract_all(t1, '${graft.ops.Redact.ipv4Pattern}')) AS INTEGER) AS n_ips,
         |    regexp_replace(t1, '${graft.ops.Redact.ipv4Pattern}', '<IP>', 'g') AS t2
         |  FROM s1)
         |SELECT doc_id, n_emails, n_ips,
         |  CAST(len(regexp_extract_all(t2, '${graft.ops.Redact.phonePattern}')) AS INTEGER) AS n_phones,
         |  regexp_replace(t2, '${graft.ops.Redact.phonePattern}', '<PHONE>', 'g') AS redacted
         |FROM s2""".stripMargin,
    "q327_ref_trigram_kn" -> {
      // the q324 recursion with LEFT joins against the even-half
      // reference counts: the CASE chain IS the backoff ladder, the
      // continuation unigram add-one-smooths over the reference's
      // continuation vocabulary + one unknown slot
      val pc = "(coalesce(n1pdot3, 0) + 1.0) / CAST(n1pdd + v + 1 AS DOUBLE)"
      val p2 = "CASE WHEN c2dot IS NULL THEN " + pc +
        " ELSE greatest(coalesce(c23, 0) - 0.75, 0.0) / c2dot" +
        s" + (0.75 * n1p2 / c2dot) * ($pc) END"
      s"""WITH rtoks AS MATERIALIZED (SELECT doc_id, $toksSql AS t
         |  FROM documents WHERE doc_id % 2 = 0),
         |rtg AS MATERIALIZED (SELECT t[CAST(i AS INT)] AS w1,
         |    t[CAST(i AS INT) + 1] AS w2, t[CAST(i AS INT) + 2] AS w3
         |  FROM (SELECT t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
         |    FROM rtoks) x),
         |c3 AS MATERIALIZED (SELECT w1, w2, w3,
         |    CAST(count(*) AS BIGINT) AS c3 FROM rtg GROUP BY 1, 2, 3),
         |l12 AS MATERIALIZED (SELECT w1, w2,
         |    CAST(sum(c3) AS BIGINT) AS c12dot,
         |    CAST(count(*) AS BIGINT) AS n1p12 FROM c3 GROUP BY 1, 2),
         |rbg AS MATERIALIZED (SELECT t[CAST(i AS INT)] AS u1,
         |    t[CAST(i AS INT) + 1] AS u2
         |  FROM (SELECT t, unnest(range(1, greatest(len(t), 1))) AS i
         |    FROM rtoks) x),
         |cb AS MATERIALIZED (SELECT u1, u2, CAST(count(*) AS BIGINT) AS c2
         |  FROM rbg GROUP BY 1, 2),
         |l2 AS MATERIALIZED (SELECT u1, CAST(sum(c2) AS BIGINT) AS c2dot,
         |    CAST(count(*) AS BIGINT) AS n1p2 FROM cb GROUP BY 1),
         |cont3 AS MATERIALIZED (SELECT u2,
         |    CAST(count(*) AS BIGINT) AS n1pdot3 FROM cb GROUP BY 1),
         |tot AS MATERIALIZED (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM cb) AS n1pdd,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cont3) AS v),
         |ttoks AS MATERIALIZED (SELECT doc_id, $toksSql AS t
         |  FROM documents WHERE doc_id % 2 = 1),
         |ttg AS MATERIALIZED (SELECT doc_id, t[CAST(i AS INT)] AS w1,
         |    t[CAST(i AS INT) + 1] AS w2, t[CAST(i AS INT) + 2] AS w3
         |  FROM (SELECT doc_id, t,
         |      unnest(range(1, greatest(len(t) - 1, 1))) AS i
         |    FROM ttoks) x),
         |tf3 AS MATERIALIZED (SELECT doc_id, w1, w2, w3,
         |    CAST(count(*) AS BIGINT) AS tf FROM ttg GROUP BY 1, 2, 3, 4),
         |ty AS MATERIALIZED (SELECT DISTINCT w1, w2, w3 FROM tf3),
         |sc AS MATERIALIZED (SELECT ty.w1, ty.w2, ty.w3,
         |    c3.c3, l12.c12dot, l12.n1p12, cb.c2 AS c23,
         |    l2.c2dot, l2.n1p2, cont3.n1pdot3, tot.n1pdd, tot.v
         |  FROM ty LEFT JOIN c3
         |      ON c3.w1 = ty.w1 AND c3.w2 = ty.w2 AND c3.w3 = ty.w3
         |    LEFT JOIN l12 ON l12.w1 = ty.w1 AND l12.w2 = ty.w2
         |    LEFT JOIN cb ON cb.u1 = ty.w2 AND cb.u2 = ty.w3
         |    LEFT JOIN l2 ON l2.u1 = ty.w2
         |    LEFT JOIN cont3 ON cont3.u2 = ty.w3, tot),
         |lnp AS MATERIALIZED (SELECT w1, w2, w3,
         |    CASE WHEN c3 IS NULL THEN 1 ELSE 0 END AS unseen,
         |    ln(CASE WHEN c12dot IS NULL THEN $p2
         |      ELSE greatest(coalesce(c3, 0) - 0.75, 0.0) / c12dot
         |        + (0.75 * n1p12 / c12dot) * ($p2) END) AS lnp
         |  FROM sc)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
         |  CAST(sum(tf * unseen) AS BIGINT) AS n_unseen_trigrams,
         |  round(-sum(tf * lnp) / CAST(sum(tf) AS DOUBLE), 6)
         |    AS ref_trigram_kn_cross_entropy
         |FROM tf3 JOIN lnp USING (w1, w2, w3)
         |GROUP BY doc_id""".stripMargin
    },
    "q324_trigram_kn_lm" ->
      // the full interpolated KN recursion unrolled: trigram ML with
      // absolute discount, bigram backoff over TRUE corpus bigram
      // counts, Kneser–Ney continuation unigram at the bottom — every
      // level a grouped count, the formula parenthesized exactly as
      // the Spark column expression so the doubles replay
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |tg AS (SELECT doc_id, t[CAST(i AS INT)] AS w1,
         |    t[CAST(i AS INT) + 1] AS w2, t[CAST(i AS INT) + 2] AS w3
         |  FROM (SELECT doc_id, t,
         |      unnest(range(1, greatest(len(t) - 1, 1))) AS i
         |    FROM toks) x),
         |tf3 AS (SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS tf
         |  FROM tg GROUP BY 1, 2, 3, 4),
         |c3 AS (SELECT w1, w2, w3, CAST(sum(tf) AS BIGINT) AS c3
         |  FROM tf3 GROUP BY 1, 2, 3),
         |l12 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c12dot,
         |    CAST(count(*) AS BIGINT) AS n1p12 FROM c3 GROUP BY 1, 2),
         |bg AS (SELECT t[CAST(i AS INT)] AS u1, t[CAST(i AS INT) + 1] AS u2
         |  FROM (SELECT t, unnest(range(1, greatest(len(t), 1))) AS i
         |    FROM toks) x),
         |cb AS (SELECT u1, u2, CAST(count(*) AS BIGINT) AS c2
         |  FROM bg GROUP BY 1, 2),
         |l2 AS (SELECT u1, CAST(sum(c2) AS BIGINT) AS c2dot,
         |    CAST(count(*) AS BIGINT) AS n1p2 FROM cb GROUP BY 1),
         |cont3 AS (SELECT u2, CAST(count(*) AS BIGINT) AS n1pdot3
         |  FROM cb GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n1pdd FROM cb),
         |lnp AS (SELECT c3.w1, c3.w2, c3.w3,
         |    ln(greatest(c3.c3 - 0.75, 0.0) / c12dot
         |      + (0.75 * n1p12 / c12dot) * (
         |          greatest(cb.c2 - 0.75, 0.0) / c2dot
         |        + (0.75 * n1p2 / c2dot)
         |          * (n1pdot3 / CAST(n1pdd AS DOUBLE)))) AS lnp
         |  FROM c3 JOIN l12 USING (w1, w2)
         |    JOIN cb ON cb.u1 = c3.w2 AND cb.u2 = c3.w3
         |    JOIN l2 ON l2.u1 = c3.w2
         |    JOIN cont3 ON cont3.u2 = c3.w3, tot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
         |  round(-sum(tf * lnp) / CAST(sum(tf) AS DOUBLE), 6)
         |    AS trigram_kn_cross_entropy
         |FROM tf3 JOIN lnp USING (w1, w2, w3)
         |GROUP BY doc_id""".stripMargin,
    "q331_kn5_lm" -> {
      // the q324 oracle generalized to n=5: per-level true counts +
      // prefix aggregates as grouped CTEs, the interpolated-KN
      // recursion unrolled with the formula parenthesized exactly as
      // the Spark column expression (doubles replay); level k joins
      // the 5-gram's last-k-word suffix
      val lvls = (2 to 5).map { k =>
        val ws = (1 to k).map(j =>
          s"t[CAST(i AS INT) + ${j - 1}] AS w$j").mkString(", ")
        val wc = (1 to k).map(j => s"w$j").mkString(", ")
        val pc = (1 until k).map(j => s"w$j").mkString(", ")
        s"""g$k AS (SELECT $ws
           |  FROM (SELECT t, unnest(range(1, greatest(len(t) - ${k - 2},
           |      1))) AS i FROM toks) x),
           |c$k AS (SELECT $wc, CAST(count(*) AS BIGINT) AS c$k
           |  FROM g$k GROUP BY ${(1 to k).mkString(", ")}),
           |l$k AS (SELECT $pc, CAST(sum(c$k) AS BIGINT) AS cdot$k,
           |    CAST(count(*) AS BIGINT) AS n1p$k
           |  FROM c$k GROUP BY ${(1 until k).mkString(", ")})""".stripMargin
      }.mkString(",\n")
      // suffix-aligned join: level-k word j pairs with the 5-gram's
      // word 5-k+j; formula nests bottom-up
      val joins = (2 to 4).map { k =>
        val off = 5 - k
        val cOn = (1 to k).map(j =>
          s"c$k.w$j = c5.w${off + j}").mkString(" AND ")
        val lOn = (1 until k).map(j =>
          s"l$k.w$j = c5.w${off + j}").mkString(" AND ")
        s"JOIN c$k ON $cOn\n    JOIN l$k ON $lOn"
      }.mkString("\n    ")
      val p = (2 to 5).foldLeft("(n1pdot / CAST(n1pdd AS DOUBLE))") {
        (inner, k) =>
          s"greatest(c$k.c$k - 0.75, 0.0) / cdot$k" +
            s" + (0.75 * n1p$k / cdot$k) * ($inner)"
      }
      s"""WITH toks AS MATERIALIZED (SELECT doc_id, $toksSql AS t
         |  FROM documents),
         |$lvls,
         |cont AS (SELECT w2 AS w, CAST(count(*) AS BIGINT) AS n1pdot
         |  FROM c2 GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n1pdd FROM c2),
         |tg5 AS (SELECT doc_id, ${(1 to 5).map(j =>
           s"t[CAST(i AS INT) + ${j - 1}] AS w$j").mkString(", ")}
         |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3,
         |      1))) AS i FROM toks) x),
         |tf5 AS (SELECT doc_id, w1, w2, w3, w4, w5,
         |    CAST(count(*) AS BIGINT) AS tf FROM tg5
         |  GROUP BY 1, 2, 3, 4, 5, 6),
         |lnp AS (SELECT c5.w1, c5.w2, c5.w3, c5.w4, c5.w5,
         |    ln($p) AS lnp
         |  FROM c5 JOIN l5 ON ${(1 to 4).map(j =>
           s"l5.w$j = c5.w$j").mkString(" AND ")}
         |    $joins
         |    JOIN cont ON cont.w = c5.w5, tot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_ngrams,
         |  round(-sum(tf * lnp) / CAST(sum(tf) AS DOUBLE), 6)
         |    AS kn_cross_entropy
         |FROM tf5 JOIN lnp USING (w1, w2, w3, w4, w5)
         |GROUP BY doc_id""".stripMargin
    },
    "q332_ref_kn5" -> {
      // the q327 oracle at order 5: reference-trained level tables,
      // target types LEFT-join them, the CASE chain IS the five-level
      // backoff ladder; pc add-one-smooths over the reference's
      // continuation vocabulary + one unknown slot
      val lvls = (2 to 5).map { k =>
        val ws = (1 to k).map(j =>
          s"t[CAST(i AS INT) + ${j - 1}] AS w$j").mkString(", ")
        val wc = (1 to k).map(j => s"w$j").mkString(", ")
        val pc = (1 until k).map(j => s"w$j").mkString(", ")
        s"""g$k AS MATERIALIZED (SELECT $ws
           |  FROM (SELECT t, unnest(range(1, greatest(len(t) - ${k - 2},
           |      1))) AS i FROM rtoks) x),
           |c$k AS MATERIALIZED (SELECT $wc,
           |    CAST(count(*) AS BIGINT) AS c$k
           |  FROM g$k GROUP BY ${(1 to k).mkString(", ")}),
           |l$k AS MATERIALIZED (SELECT $pc,
           |    CAST(sum(c$k) AS BIGINT) AS cdot$k,
           |    CAST(count(*) AS BIGINT) AS n1p$k
           |  FROM c$k GROUP BY ${(1 until k).mkString(", ")})""".stripMargin
      }.mkString(",\n")
      val joins = (2 to 5).map { k =>
        val off = 5 - k
        val cOn = (1 to k).map(j =>
          s"c$k.w$j = ty.w${off + j}").mkString(" AND ")
        val lOn = (1 until k).map(j =>
          s"l$k.w$j = ty.w${off + j}").mkString(" AND ")
        s"LEFT JOIN c$k ON $cOn\n    LEFT JOIN l$k ON $lOn"
      }.mkString("\n    ")
      val pcU = "(coalesce(n1pdot, 0) + 1.0) / " +
        "CAST(n1pdd + v + 1 AS DOUBLE)"
      val p = (2 to 5).foldLeft(pcU) { (inner, k) =>
        s"CASE WHEN cdot$k IS NULL THEN $inner" +
          s" ELSE greatest(coalesce(c$k.c$k, 0) - 0.75, 0.0) / cdot$k" +
          s" + (0.75 * n1p$k / cdot$k) * ($inner) END"
      }
      s"""WITH rtoks AS MATERIALIZED (SELECT doc_id, $toksSql AS t
         |  FROM documents WHERE doc_id % 2 = 0),
         |$lvls,
         |cont AS MATERIALIZED (SELECT w2 AS w,
         |    CAST(count(*) AS BIGINT) AS n1pdot FROM c2 GROUP BY 1),
         |tot AS MATERIALIZED (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM c2) AS n1pdd,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cont) AS v),
         |ttoks AS MATERIALIZED (SELECT doc_id, $toksSql AS t
         |  FROM documents WHERE doc_id % 2 = 1),
         |tg5 AS MATERIALIZED (SELECT doc_id, ${(1 to 5).map(j =>
           s"t[CAST(i AS INT) + ${j - 1}] AS w$j").mkString(", ")}
         |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3,
         |      1))) AS i FROM ttoks) x),
         |tf5 AS MATERIALIZED (SELECT doc_id, w1, w2, w3, w4, w5,
         |    CAST(count(*) AS BIGINT) AS tf FROM tg5
         |  GROUP BY 1, 2, 3, 4, 5, 6),
         |ty AS MATERIALIZED (SELECT DISTINCT w1, w2, w3, w4, w5
         |  FROM tf5),
         |lnp AS MATERIALIZED (SELECT ty.w1, ty.w2, ty.w3, ty.w4, ty.w5,
         |    CASE WHEN c5.c5 IS NULL THEN 1 ELSE 0 END AS unseen,
         |    ln($p) AS lnp
         |  FROM ty
         |    $joins
         |    LEFT JOIN cont ON cont.w = ty.w5, tot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_ngrams,
         |  CAST(sum(tf * unseen) AS BIGINT) AS n_unseen_ngrams,
         |  round(-sum(tf * lnp) / CAST(sum(tf) AS DOUBLE), 6)
         |    AS ref_kn_cross_entropy
         |FROM tf5 JOIN lnp USING (w1, w2, w3, w4, w5)
         |GROUP BY doc_id""".stripMargin
    },
    "q113_bigram_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |bg AS (SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(t), 1)),
         |      i -> t[i] || ' ' || t[i + 1])) AS b
         |  FROM toks),
         |tf AS (SELECT doc_id, b, count(*) AS tf FROM bg GROUP BY 1, 2),
         |c2 AS (SELECT b, split_part(b, ' ', 1) AS w1,
         |    CAST(sum(tf) AS BIGINT) AS c2
         |  FROM tf GROUP BY b),
         |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  round(sum(tf * (ln(c1) - ln(c2))) / CAST(sum(tf) AS DOUBLE), 6)
         |    AS bigram_cross_entropy
         |FROM tf JOIN c2 USING (b) JOIN c1 USING (w1)
         |GROUP BY doc_id""".stripMargin,
    "q114_corpus_melt" ->
      s"""WITH t AS (SELECT lang, len($toksSql) AS n_tokens, n_chars FROM documents),
         |cs AS (SELECT lang,
         |    CAST(count(*) AS DOUBLE) AS n_docs,
         |    CAST(sum(n_tokens) AS DOUBLE) AS total_tokens,
         |    round(avg(n_tokens), 6) AS avg_tokens,
         |    round(avg(n_chars), 6) AS avg_chars
         |  FROM t GROUP BY lang)
         |SELECT lang, 'n_docs' AS metric, n_docs AS value FROM cs
         |UNION ALL SELECT lang, 'total_tokens' AS metric, total_tokens AS value FROM cs
         |UNION ALL SELECT lang, 'avg_tokens' AS metric, avg_tokens AS value FROM cs
         |UNION ALL SELECT lang, 'avg_chars' AS metric, avg_chars AS value FROM cs""".stripMargin,
    "q115_quality_model_score" ->
      s"""WITH f AS ($qualityFeaturesSql),
         |s AS (SELECT doc_id,
         |    round(1.0 / (1.0 + exp(-(-2.0 + 0.45 * ln(1.0 + n_tokens)
         |      + 3.0 * stopword_ratio + 0.15 * mean_token_len
         |      - 8.0 * punct_ratio))), 6) AS quality_prob
         |  FROM f)
         |SELECT doc_id, quality_prob,
         |  CAST(quality_prob >= 0.5 AS INTEGER) AS keep
         |FROM s""".stripMargin,
    "q116_ewma_daily" ->
      // list_reduce over the growing prefix recomputes the identical
      // left-to-right α-fold Spark's aggregate() runs incrementally —
      // same IEEE operation sequence, so bit-exact before the rounding
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 4) AS v
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type,
        |    list(CAST(epoch(day) AS BIGINT) ORDER BY day) AS ds,
        |    list(v ORDER BY day) AS vs
        |  FROM daily GROUP BY 1)
        |SELECT event_type, unnest(ds) AS day_epoch, unnest(vs) AS day_total,
        |  unnest(list_transform(range(1, len(vs) + 1),
        |    t -> round(list_reduce(list_slice(vs, 1, t),
        |           (a, b) -> 0.3 * b + 0.7 * a), 6))) AS ewma
        |FROM ser""".stripMargin,
    "q117_fuzzy_name_pairs" ->
      """WITH names AS (SELECT DISTINCT s_name AS s FROM supplier),
        |keyed AS (SELECT s,
        |    unnest(list_distinct(list_append(
        |      list_transform(range(1, len(s) + 1),
        |        i -> substr(s, 1, i - 1) || substr(s, i + 1, len(s))),
        |      s))) AS k
        |  FROM names)
        |SELECT DISTINCT a.s AS name_a, b.s AS name_b
        |FROM keyed a JOIN keyed b ON a.k = b.k AND a.s < b.s
        |WHERE levenshtein(a.s, b.s) = 1""".stripMargin,
    "q118_priority_rollup" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 4) AS revenue,
        |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid
        |FROM orders
        |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin,
    "q119_pq_codes" ->
      // sub-distances are rounded to 6 before the [d, cid] lexicographic
      // argmin, mirroring pqEncodeAdc's struct array_min exactly
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |cents AS (SELECT CAST(vec_id // 37 AS INTEGER) AS cid, e AS c
        |  FROM v WHERE vec_id % 37 = 0 AND vec_id // 37 < 16),
        |cl AS (SELECT list(struct_pack(cid := cid, c := c) ORDER BY cid) AS cents,
        |       CAST(len(min(c)) // 4 AS INTEGER) AS sub FROM cents),
        |q AS (SELECT e AS p FROM v WHERE vec_id = 1),
        |enc AS (SELECT vec_id, cents, sub, p,
        |  list_transform(range(0, 4), j ->
        |    CAST(list_sort(list_transform(cents, cc ->
        |      [round(list_sum(list_transform(range(1, sub + 1),
        |         i -> (v.e[j*sub+i] - cc.c[j*sub+i]) * (v.e[j*sub+i] - cc.c[j*sub+i]))), 6),
        |       CAST(cc.cid AS DOUBLE)]))[1][2] AS INTEGER)) AS codes
        |  FROM v, cl, q)
        |SELECT vec_id, codes[1] AS c0, codes[2] AS c1, codes[3] AS c2, codes[4] AS c3,
        |  round(list_sum(list_transform(range(0, 4), j ->
        |    list_sum(list_transform(range(1, sub + 1),
        |      i -> (p[j*sub+i] - cents[codes[j+1] + 1].c[j*sub+i])
        |         * (p[j*sub+i] - cents[codes[j+1] + 1].c[j*sub+i]))))), 6) AS adc_dist
        |FROM enc""".stripMargin,
    "q120_zorder_key" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${graft.ops.Layout.zorder2Sql("l_partkey", "l_orderkey")} AS zkey
         |FROM lineitem""".stripMargin,
    "q272_zorder3_key" ->
      // generated from the SAME loop as the Spark expression (the q120
      // zorder2Sql discipline at N=3) — zero drift surface
      s"""SELECT l_orderkey, l_linenumber,
         |  ${graft.ops.Layout.zorderNSql(
               Seq("l_partkey", "l_suppkey", "l_orderkey"), 20)} AS zkey3
         |FROM lineitem""".stripMargin,
    "q284_zorder_scan" ->
      // the z-order rewrite is row-preserving: same rows, new physical
      // order — so the raw table IS the oracle for any aggregate
      """SELECT l_partkey, l_suppkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_partkey < 50 AND l_suppkey < 5
        |GROUP BY l_partkey, l_suppkey""".stripMargin,
    "q285_bloom_lookup" ->
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_orderkey = 1
        |GROUP BY l_orderkey""".stripMargin,
    "q286_skew_report" ->
      // mean reduces FIRST (floor, min 1) exactly like the Spark side so
      // the integer ratios agree; ties at the top-k boundary break on key
      """WITH c AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT)
        |    AS n_rows
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
        |    greatest(CAST(sum(n_rows) AS BIGINT) // count(*), 1) AS mean
        |  FROM c)
        |SELECT key, n_rows,
        |  1000000 * n_rows // total AS share_ppm,
        |  100 * n_rows // mean AS skew_x100,
        |  (n_rows + mean - 1) // mean AS salt_buckets
        |FROM c, t ORDER BY n_rows DESC, key LIMIT 10""".stripMargin,
    "q288_source_sample" ->
      s"""WITH h AS (SELECT source, doc_id,
         |    ${hash31Sql("CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents),
         |r AS (SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY hh, doc_id)
         |      AS rn
         |  FROM h)
         |SELECT source, doc_id FROM r WHERE rn <= 20""".stripMargin,
    "q289_systematic_sample" ->
      // the same integer interval-containment rule over DuckDB's cumsum;
      // the oracle may use the single-partition window — it is the
      // oracle, not the engine
      """WITH t AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight
        |  FROM documents),
        |c AS (SELECT doc_id, weight,
        |    CAST(sum(weight) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - weight
        |      AS BIGINT) AS start_offset
        |  FROM t),
        |st AS (SELECT greatest(CAST(sum(weight) AS BIGINT) // 100, 1)
        |    AS step FROM t)
        |SELECT doc_id, weight, start_offset FROM c, st
        |WHERE weight > 0 AND (start_offset % step = 0
        |  OR (start_offset + weight - 1) // step > start_offset // step)
        |""".stripMargin,
    "q287_media_curation_capstone" ->
      // every branch replays its standalone query's closed form, keyed
      // by the PATTERN id (pid = doc_id % 10 — patternMod makes content
      // a function of pid, corruption a function of doc_id % 5); the
      // aHash CTE chain is the SAME builder as q273/q274
      s"""WITH m AS (SELECT doc_id, doc_id % 10 AS pid,
         |    (doc_id % 5 = 0) AS bad
         |  FROM documents WHERE doc_id % 3 = 0),
         |pats AS (SELECT DISTINCT pid FROM m),
         |pg AS (SELECT pid, CAST(pid % 13 + 4 AS INTEGER) AS w,
         |    CAST(pid % 11 + 4 AS INTEGER) AS h FROM pats),
         |gx AS (SELECT pg.*, unnest(range(w)) AS x FROM pg),
         |px AS (SELECT gx.*, unnest(range(h)) AS y FROM gx),
         |pc AS (SELECT pid, w, h,
         |    (((pid * 7 + x * 31 + y * 17) % 256)
         |     + ((pid * 3 + x * 13 + y * 29) % 256)
         |     + ((pid * 11 + x * 23 + y * 19) % 256)) // 3 AS g
         |  FROM px),
         |ps AS (SELECT pid, w, h, CAST(sum(g) AS BIGINT) AS s1
         |  FROM pc GROUP BY pid, w, h),
         |${ahashCtesSql("pid", "pats")},
         |good AS (SELECT doc_id, pid FROM m WHERE NOT bad)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_images,
         |  (SELECT CAST(count(*) AS BIGINT) FROM m WHERE bad)
         |    AS n_quarantined,
         |  (SELECT CAST(count(*) AS BIGINT) FROM good g
         |     JOIN ps ON ps.pid = g.pid
         |     WHERE s1 >= 80 * w * h AND s1 <= 176 * w * h) AS n_bright_ok,
         |  (SELECT CAST(count(DISTINCT CAST(ahash_hi AS VARCHAR) || '_'
         |       || CAST(ahash_lo AS VARCHAR)) AS BIGINT)
         |     FROM good g JOIN ah ON ah.id = g.pid) AS n_unique_visual,
         |  (SELECT CAST(count(*) AS BIGINT) FROM m JOIN pg USING (pid)
         |     WHERE greatest(w, h) > 9) AS n_need_resize""".stripMargin,
    "q121_jl_projection" ->
      s"""WITH planes(i, p) AS (VALUES
         |  ${planesValuesSql(64, 24)}),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |d AS (SELECT vec_id, i,
         |    list_sum(list_transform(range(1, 65), j -> e[j] * p[j])) AS dp
         |  FROM v CROSS JOIN planes),
         |-- plane-ORDERED fold (list(... ORDER BY i)) mirroring the Spark
         |-- side's fixed reduce order; * 0.125 is the exact power-of-two
         |-- scale lit(3.0/24) compiles to — NOT * 3.0 / 24, whose extra
         |-- IEEE rounding can differ by 1 ulp
         |pn AS (SELECT vec_id,
         |    list_sum(list_transform(list(dp ORDER BY i), x -> x * x)) AS pn2
         |  FROM d GROUP BY vec_id),
         |o AS (SELECT vec_id,
         |    round(list_sum(list_transform(range(1, 65), j -> e[j] * e[j])), 6)
         |      AS orig_norm2
         |  FROM v),
         |r AS (SELECT vec_id, orig_norm2,
         |    round(pn2 * 0.125, 6) AS proj_norm2_scaled,
         |    CASE WHEN orig_norm2 = 0 THEN 0.0
         |         ELSE round(round(pn2 * 0.125, 6) / orig_norm2, 6) END AS ratio
         |  FROM pn JOIN o USING (vec_id))
         |SELECT vec_id, orig_norm2, proj_norm2_scaled, ratio,
         |  CAST(ratio >= 0.15 AND ratio <= 3.0 AS INTEGER) AS in_bounds
         |FROM r""".stripMargin,
    "q122_snapshot_diff" ->
      s"""WITH old AS (SELECT doc_id, text FROM documents),
         |new AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 17 <> 0
         |  UNION ALL
         |  SELECT -doc_id - 1, text FROM documents WHERE doc_id % 50 = 0),
         |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN (${hash31Sql("o.text")}) <> (${hash31Sql("n.text")})
         |           THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
         |SELECT doc_id, status FROM j WHERE status <> 'unchanged'""".stripMargin,
    "q123_training_pipeline_v2" ->
      // the same proven fragments chained: q112's scrub, q115's logistic
      // (via qualityFeaturesSqlFrom), q113's bigram CTEs, q111's rounded
      // quantile threshold, min-id dedup on the scrubbed text
      s"""WITH pii AS (SELECT doc_id, lang, text ||
         |    CASE WHEN doc_id % 3 = 0
         |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |         ELSE '' END AS t
         |  FROM documents),
         |red AS (SELECT doc_id, lang,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '${graft.ops.Redact.emailPattern}', '<EMAIL>', 'g'),
         |      '${graft.ops.Redact.ipv4Pattern}', '<IP>', 'g'),
         |      '${graft.ops.Redact.phonePattern}', '<PHONE>', 'g') AS text
         |  FROM pii),
         |f AS (${qualityFeaturesSqlFrom("red")}),
         |keepq AS (SELECT doc_id FROM f
         |  WHERE round(1.0 / (1.0 + exp(-(-2.0 + 0.45 * ln(1.0 + n_tokens)
         |    + 3.0 * stopword_ratio + 0.15 * mean_token_len
         |    - 8.0 * punct_ratio))), 6) >= 0.5),
         |toks AS (SELECT doc_id, $toksSql AS tk FROM red),
         |bg AS (SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(tk), 1)),
         |      i -> tk[i] || ' ' || tk[i + 1])) AS b
         |  FROM toks),
         |tf AS (SELECT doc_id, b, count(*) AS tf FROM bg GROUP BY 1, 2),
         |c2 AS (SELECT b, split_part(b, ' ', 1) AS w1,
         |    CAST(sum(tf) AS BIGINT) AS c2
         |  FROM tf GROUP BY b),
         |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
         |lm AS (SELECT doc_id,
         |    round(sum(tf * (ln(c1) - ln(c2))) / CAST(sum(tf) AS DOUBLE), 6) AS ce
         |  FROM tf JOIN c2 USING (b) JOIN c1 USING (w1)
         |  GROUP BY doc_id),
         |th AS (SELECT round(quantile_cont(ce, 0.75), 6) AS th FROM lm),
         |gated AS (SELECT r.doc_id, r.lang, r.text
         |  FROM red r JOIN keepq USING (doc_id) JOIN lm USING (doc_id)
         |  CROSS JOIN th WHERE lm.ce <= th.th),
         |dedup AS (SELECT * FROM gated
         |  WHERE doc_id IN (SELECT min(doc_id) FROM gated GROUP BY text))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_kept,
         |  CAST(sum(len($toksSql)) AS BIGINT) AS tokens_kept,
         |  bit_xor(doc_id) AS id_checksum
         |FROM dedup GROUP BY lang""".stripMargin,
    "q124_ivfpq_topk" -> ivfPqOracleSql,
    "q126_ivfpq_indexed" -> ivfPqOracleSql, // tier-equivalence: same semantics
    "q130_ivfpq_incremental" -> ivfPqOracleSql, // build+append ≡ full build
    "q125_ivfpq_residual_topk" -> ivfPqResidualOracleSql,
    "q127_ivfpq_residual_indexed" -> ivfPqResidualOracleSql, // tier-equivalence
    "q128_ivf_batch_topk" -> ivfBatchOracleSql,
    "q131_ivf_batch_indexed" -> ivfBatchOracleSql, // tier-equivalence
    "q129_ivfpq_batch_topk" -> ivfPqBatchOracleSql,
    "q132_distribution_drift" ->
      // probabilities rounded to 6 BEFORE the JS math, term after —
      // mirrors Diff.distributionDrift's round-before-derive exactly
      """WITH old AS (SELECT lang FROM documents),
        |new AS (SELECT lang FROM documents WHERE doc_id % 17 <> 0
        |        UNION ALL SELECT lang FROM documents WHERE doc_id % 50 = 0),
        |c1 AS (SELECT lang, count(*) AS n_v1 FROM old GROUP BY lang),
        |c2 AS (SELECT lang, count(*) AS n_v2 FROM new GROUP BY lang),
        |j AS (SELECT coalesce(c1.lang, c2.lang) AS lang,
        |        coalesce(n_v1, 0) AS n_v1, coalesce(n_v2, 0) AS n_v2
        |      FROM c1 FULL OUTER JOIN c2 USING (lang)),
        |t AS (SELECT sum(n_v1) AS t1, sum(n_v2) AS t2 FROM j),
        |p AS (SELECT lang, n_v1, n_v2,
        |        round(n_v1 / CAST(t1 AS DOUBLE), 6) AS p_v1,
        |        round(n_v2 / CAST(t2 AS DOUBLE), 6) AS p_v2
        |      FROM j, t)
        |SELECT lang, CAST(n_v1 AS BIGINT) AS n_v1, CAST(n_v2 AS BIGINT) AS n_v2,
        |  p_v1, p_v2,
        |  round(CASE WHEN p_v1 = 0 THEN 0
        |             ELSE 0.5 * p_v1 * ln(p_v1 / ((p_v1 + p_v2) / 2)) END
        |      + CASE WHEN p_v2 = 0 THEN 0
        |             ELSE 0.5 * p_v2 * ln(p_v2 / ((p_v1 + p_v2) / 2)) END, 6)
        |    AS js_term
        |FROM p""".stripMargin,
    "q133_index_cell_stats" ->
      // the index's codes relation reconstructs from the q37/q124 assign
      // CTEs (q126 proved codes ≡ that reconstruction); median via
      // quantile_cont = Spark's exact interpolated percentile
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cent AS (SELECT CAST(vec_id // 97 AS INTEGER) AS cell_id, e AS c
         |  FROM v WHERE vec_id % 97 = 0),
         |scored AS (SELECT v.vec_id, cent.cell_id,
         |    round(${cosSql("v.e", "cent.c")}, 6) AS sim
         |  FROM v CROSS JOIN cent),
         |assign AS (SELECT vec_id, cell_id FROM (
         |    SELECT vec_id, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
         |    FROM scored) WHERE rn = 1),
         |counts AS (SELECT cell_id, count(*) AS n FROM assign GROUP BY cell_id),
         |med AS (SELECT quantile_cont(n, 0.5) AS m FROM counts)
         |SELECT cell_id, CAST(n AS BIGINT) AS n,
         |  round(n / m, 4) AS ratio_to_median
         |FROM counts, med""".stripMargin,
    "q134_chunk_dedup" ->
      // keeper = row_number 1 over (doc_id, chunk_idx) per chunk text —
      // the oracle keys on text where Spark keys on the 128-bit hash
      // (the q18 relationship); FILTER-with-no-rows yields NULL, hence
      // the coalesce to '' matching Spark's empty array_join
      s"""WITH ${chunk3CtesSql("documents")},
         |k AS (SELECT doc_id, chunk_idx, chunk_text,
         |    row_number() OVER (PARTITION BY chunk_text
         |      ORDER BY doc_id, chunk_idx) AS rn
         |  FROM ch)
         |SELECT doc_id,
         |  CAST(count(*) AS INTEGER) AS n_chunks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
         |  ${hash31Sql("coalesce(array_to_string(" +
            "list(chunk_text ORDER BY chunk_idx) FILTER (WHERE rn = 1), ' '), '')")}
         |    AS kept_hash
         |FROM k GROUP BY doc_id""".stripMargin,
    "q135_boilerplate_removal" ->
      s"""WITH docs AS (SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 0 THEN '$boilerplateHeader ' || text
         |         ELSE text END AS text
         |  FROM documents),
         |${chunk3CtesSql("docs")},
         |f AS (SELECT chunk_text, 1 AS b FROM ch
         |  GROUP BY chunk_text HAVING count(DISTINCT doc_id) >= 3),
         |m AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text,
         |    CASE WHEN f.b IS NULL THEN 0 ELSE 1 END AS boiler
         |  FROM ch LEFT JOIN f USING (chunk_text))
         |SELECT doc_id,
         |  CAST(count(*) AS INTEGER) AS n_chunks,
         |  CAST(sum(boiler) AS INTEGER) AS n_boiler,
         |  ${hash31Sql("coalesce(array_to_string(" +
            "list(chunk_text ORDER BY chunk_idx) FILTER (WHERE boiler = 0), ' '), '')")}
         |    AS clean_hash
         |FROM m GROUP BY doc_id""".stripMargin,
    "q136_event_pagerank" ->
      s"""WITH lagd AS (SELECT event_type AS dst,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM events),
         |edges AS (SELECT src, dst, count(*) AS w FROM lagd
         |  WHERE src IS NOT NULL GROUP BY src, dst),
         |${graft.ops.Graph.pageRankOracleSql("edges", 10)}""".stripMargin,
    "q137_mmr_diverse" -> mmrOracleSql(queryId = 2L, k = 5,
      lambda = 0.7, poolSize = 40),
    "q138_rotated_pq" ->
      // q119's encode chain over ROTATED vectors: the rotation matrix is
      // rendered from the same Scala constants the Spark plan ships, and
      // the rotated coordinates are the q121 plane-ordered fold
      s"""WITH rot(i, p) AS (VALUES
         |  ${rotationValuesSql(64)}),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |dp AS (SELECT vec_id, i,
         |    list_sum(list_transform(range(1, 65), j -> e[j] * p[j])) AS dp
         |  FROM v CROSS JOIN rot),
         |rv AS MATERIALIZED (
         |  SELECT vec_id, list(dp ORDER BY i) AS e FROM dp GROUP BY vec_id),
         |cents AS (SELECT CAST(vec_id // 37 AS INTEGER) AS cid, e AS c
         |  FROM rv WHERE vec_id % 37 = 0 AND vec_id // 37 < 16),
         |cl AS (SELECT list(struct_pack(cid := cid, c := c) ORDER BY cid) AS cents,
         |       CAST(len(min(c)) // 4 AS INTEGER) AS sub FROM cents),
         |q AS (SELECT e AS p FROM rv WHERE vec_id = 1),
         |enc AS (SELECT vec_id, cents, sub, p,
         |  list_transform(range(0, 4), j ->
         |    CAST(list_sort(list_transform(cents, cc ->
         |      [round(list_sum(list_transform(range(1, sub + 1),
         |         i -> (rv.e[j*sub+i] - cc.c[j*sub+i]) * (rv.e[j*sub+i] - cc.c[j*sub+i]))), 6),
         |       CAST(cc.cid AS DOUBLE)]))[1][2] AS INTEGER)) AS codes
         |  FROM rv, cl, q)
         |SELECT vec_id, codes[1] AS c0, codes[2] AS c1, codes[3] AS c2, codes[4] AS c3,
         |  round(list_sum(list_transform(range(0, 4), j ->
         |    list_sum(list_transform(range(1, sub + 1),
         |      i -> (p[j*sub+i] - cents[codes[j+1] + 1].c[j*sub+i])
         |         * (p[j*sub+i] - cents[codes[j+1] + 1].c[j*sub+i]))))), 6) AS adc_dist
         |FROM enc""".stripMargin,
    "q139_ivfpq_refined" -> ivfPqRefineOracleSql,
    "q140_ivfpq_batch_refined" -> ivfPqBatchRefineOracleSql,
    "q141_event_funnel" ->
      // first-touch per step via row_number over (ts, event_id); step i
      // qualifies only strictly after step i-1's chosen event
      """WITH ev AS (SELECT * FROM events WHERE value > 150),
        |f1 AS (SELECT user_id, ts, event_id FROM (
        |    SELECT user_id, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM ev WHERE event_type = 'view') WHERE rn = 1),
        |f2 AS (SELECT user_id, ts, event_id FROM (
        |    SELECT e.user_id, e.ts, e.event_id,
        |      row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        |    FROM ev e JOIN f1 ON e.user_id = f1.user_id
        |    WHERE e.event_type = 'click'
        |      AND (e.ts > f1.ts OR (e.ts = f1.ts AND e.event_id > f1.event_id)))
        |  WHERE rn = 1),
        |f3 AS (SELECT user_id, ts, event_id FROM (
        |    SELECT e.user_id, e.ts, e.event_id,
        |      row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        |    FROM ev e JOIN f2 ON e.user_id = f2.user_id
        |    WHERE e.event_type = 'purchase'
        |      AND (e.ts > f2.ts OR (e.ts = f2.ts AND e.event_id > f2.event_id)))
        |  WHERE rn = 1),
        |d AS (SELECT u.user_id,
        |    CASE WHEN f3.user_id IS NOT NULL THEN 3
        |         WHEN f2.user_id IS NOT NULL THEN 2
        |         WHEN f1.user_id IS NOT NULL THEN 1
        |         ELSE 0 END AS depth
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN f1 ON u.user_id = f1.user_id
        |  LEFT JOIN f2 ON u.user_id = f2.user_id
        |  LEFT JOIN f3 ON u.user_id = f3.user_id)
        |SELECT depth, count(*) AS n_users FROM d GROUP BY depth""".stripMargin,
    "q142_frequent_paths" ->
      """WITH s AS (SELECT user_id,
        |    list(event_type ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id),
        |g AS (SELECT unnest(CASE WHEN len(seq) < 3 THEN []::VARCHAR[]
        |    ELSE list_transform(range(1, len(seq) - 1),
        |      i -> array_to_string(list_slice(seq, i, i + 2), ' > '))
        |    END) AS path
        |  FROM s)
        |SELECT path, count(*) AS n_occurrences FROM g
        |GROUP BY path ORDER BY n_occurrences DESC, path LIMIT 10""".stripMargin,
    "q143_cohort_retention" ->
      """WITH w AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cw FROM w GROUP BY user_id)
        |SELECT CAST(epoch(cw) AS BIGINT) AS cohort_week_epoch,
        |  CAST(date_diff('day', cw, wk) // 7 AS INTEGER) AS week_offset,
        |  count(*) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q144_personalized_pagerank" ->
      s"""WITH lagd AS (SELECT event_type AS dst,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM events),
         |edges AS (SELECT src, dst, count(*) AS w FROM lagd
         |  WHERE src IS NOT NULL GROUP BY src, dst),
         |seeds AS (SELECT 'signup' AS node),
         |${graft.ops.Graph.pageRankOracleSql("edges", 10,
            sourcesCte = Some("seeds"))}""".stripMargin,
    "q145_training_pipeline_v3" ->
      // q135's chain → q134's chain over the cleaned text → q115's
      // logistic → rollup; a doc whose cleaned text is empty chunks to
      // nothing and drops, exactly as chunkDedup drops chunkless docs
      s"""WITH docs AS (SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 0 THEN '$boilerplateHeader ' || text
         |         ELSE text END AS text
         |  FROM documents),
         |${chunk3CtesSql("docs")},
         |fb AS (SELECT chunk_text, 1 AS b FROM ch
         |  GROUP BY chunk_text HAVING count(DISTINCT doc_id) >= 3),
         |m AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text,
         |    CASE WHEN fb.b IS NULL THEN 0 ELSE 1 END AS boiler
         |  FROM ch LEFT JOIN fb USING (chunk_text)),
         |clean AS (SELECT doc_id,
         |    coalesce(array_to_string(
         |      list(chunk_text ORDER BY chunk_idx) FILTER (WHERE boiler = 0),
         |      ' '), '') AS text
         |  FROM m GROUP BY doc_id),
         |${chunk3CtesSql("clean", "2")},
         |k AS (SELECT doc_id, chunk_idx, chunk_text,
         |    row_number() OVER (PARTITION BY chunk_text
         |      ORDER BY doc_id, chunk_idx) AS rn
         |  FROM ch2),
         |kept AS (SELECT doc_id,
         |    coalesce(array_to_string(
         |      list(chunk_text ORDER BY chunk_idx) FILTER (WHERE rn = 1),
         |      ' '), '') AS text
         |  FROM k GROUP BY doc_id),
         |f AS (${qualityFeaturesSqlFrom("kept")}),
         |sc AS (SELECT doc_id,
         |    round(1.0 / (1.0 + exp(-(-2.0 + 0.45 * ln(1.0 + n_tokens)
         |      + 3.0 * stopword_ratio + 0.15 * mean_token_len
         |      - 8.0 * punct_ratio))), 6) AS quality_prob
         |  FROM f)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(${hash31Sql("kept.text")}) AS BIGINT) AS content_sum
         |FROM kept
         |JOIN sc USING (doc_id)
         |JOIN documents d USING (doc_id)
         |WHERE sc.quality_prob >= 0.5
         |GROUP BY d.lang""".stripMargin,
    "q146_label_propagation" ->
      s"""WITH lagd AS (SELECT event_type AS dst,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM events),
         |edges AS (SELECT src, dst, count(*) AS w FROM lagd
         |  WHERE src IS NOT NULL GROUP BY src, dst),
         |${graft.ops.Graph.labelPropagationOracleSql("edges", 5)}""".stripMargin,
    "q147_cheapest_paths" ->
      s"""WITH lagd AS (SELECT event_type AS dst,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM events),
         |edges AS (SELECT src, dst, count(*) AS w FROM lagd
         |  WHERE src IS NOT NULL GROUP BY src, dst),
         |${graft.ops.Graph.cheapestPathsOracleSql("edges", "signup", 6)}""".stripMargin,
    "q148_timed_funnel" ->
      """WITH ev AS (SELECT * FROM events WHERE value > 100),
        |f1 AS (SELECT user_id, ts, event_id FROM (
        |    SELECT user_id, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM ev WHERE event_type = 'view') WHERE rn = 1),
        |f2 AS (SELECT user_id, ts, event_id, t1 FROM (
        |    SELECT e.user_id, e.ts, e.event_id, f1.ts AS t1,
        |      row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        |    FROM ev e JOIN f1 ON e.user_id = f1.user_id
        |    WHERE e.event_type = 'click'
        |      AND (e.ts > f1.ts OR (e.ts = f1.ts AND e.event_id > f1.event_id))
        |      AND e.ts <= f1.ts + INTERVAL 48 HOURS)
        |  WHERE rn = 1),
        |f3 AS (SELECT user_id FROM (
        |    SELECT e.user_id,
        |      row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        |    FROM ev e JOIN f2 ON e.user_id = f2.user_id
        |    WHERE e.event_type = 'purchase'
        |      AND (e.ts > f2.ts OR (e.ts = f2.ts AND e.event_id > f2.event_id))
        |      AND e.ts <= f2.t1 + INTERVAL 48 HOURS)
        |  WHERE rn = 1),
        |d AS (SELECT u.user_id,
        |    CASE WHEN f3.user_id IS NOT NULL THEN 3
        |         WHEN f2.user_id IS NOT NULL THEN 2
        |         WHEN f1.user_id IS NOT NULL THEN 1
        |         ELSE 0 END AS depth
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN f1 ON u.user_id = f1.user_id
        |  LEFT JOIN f2 ON u.user_id = f2.user_id
        |  LEFT JOIN f3 ON u.user_id = f3.user_id)
        |SELECT depth, count(*) AS n_users FROM d GROUP BY depth""".stripMargin,
    "q149_bm25_search" -> bm25TopSql,
    // tier-equivalence: persisted-index search shares the scoring tail
    "q214_bm25_indexed" -> bm25TopSql,
    "q221_cluster_purity" -> clusterPurityOracleSql,
    // tier-equivalence: the IVF graph probes every cell, so the trio's
    // exact-tier oracles apply verbatim (the q201/q210 discipline)
    "q224_cluster_purity_ivf" -> clusterPurityOracleSql,
    "q225_adjusted_rand_ivf" -> adjustedRandOracleSql,
    "q226_cluster_nmi_ivf" -> clusterNmiOracleSql,
    "q223_cluster_nmi" -> clusterNmiOracleSql,
    "q222_adjusted_rand" -> adjustedRandOracleSql,
    "q220_split_contamination" ->
      s"""WITH RECURSIVE ${jaccardPairCtesSql(2, 0.8)},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION ALL SELECT id_b, id_a FROM jp),
         |reach(src, dst) AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
         |  FROM reach GROUP BY src),
         |an AS (SELECT doc_id,
         |    ${splitCaseSql("CAST(doc_id AS VARCHAR)", 80, 10)} AS split
         |  FROM documents),
         |asf AS (SELECT d.doc_id,
         |    ${splitCaseSql("CAST(coalesce(cl.rep, d.doc_id) AS VARCHAR)", 80, 10)}
         |      AS split
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |cn AS (SELECT 'naive' AS split_mode,
         |    CASE WHEN a.split = 'train' THEN jp.id_b ELSE jp.id_a END
         |      AS ev
         |  FROM jp JOIN an a ON jp.id_a = a.doc_id
         |    JOIN an b ON jp.id_b = b.doc_id
         |  WHERE (a.split = 'train') <> (b.split = 'train')),
         |cs AS (SELECT 'cluster_safe' AS split_mode,
         |    CASE WHEN a.split = 'train' THEN jp.id_b ELSE jp.id_a END
         |      AS ev
         |  FROM jp JOIN asf a ON jp.id_a = a.doc_id
         |    JOIN asf b ON jp.id_b = b.doc_id
         |  WHERE (a.split = 'train') <> (b.split = 'train')),
         |uni AS (SELECT * FROM cn UNION ALL SELECT * FROM cs),
         |agg AS (SELECT split_mode, count(*) AS np,
         |    count(DISTINCT ev) AS nd FROM uni GROUP BY split_mode)
         |SELECT m.split_mode,
         |  CAST(coalesce(np, 0) AS BIGINT) AS n_cross_pairs,
         |  CAST(coalesce(nd, 0) AS BIGINT) AS n_contaminated_eval_docs
         |FROM (VALUES ('naive'), ('cluster_safe')) AS m(split_mode)
         |LEFT JOIN agg ON m.split_mode = agg.split_mode""".stripMargin,
    "q218_ks_pairs" ->
      """WITH c AS (SELECT source AS g, n_chars AS v,
        |    CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY g, v),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY g),
        |pr AS (SELECT a.g AS source_a, b.g AS source_b, a.n AS na,
        |    b.n AS nb
        |  FROM tot a JOIN tot b ON a.g < b.g),
        |va AS (SELECT source_a, source_b, v, c AS ca FROM pr
        |  JOIN c ON c.g = pr.source_a),
        |vb AS (SELECT source_a, source_b, v, c AS cb FROM pr
        |  JOIN c ON c.g = pr.source_b),
        |mg AS (SELECT coalesce(va.source_a, vb.source_a) AS source_a,
        |    coalesce(va.source_b, vb.source_b) AS source_b,
        |    coalesce(va.v, vb.v) AS v,
        |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM va FULL OUTER JOIN vb ON va.source_a = vb.source_a
        |    AND va.source_b = vb.source_b AND va.v = vb.v),
        |cum AS (SELECT source_a, source_b,
        |    sum(ca) OVER (PARTITION BY source_a, source_b ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cuma,
        |    sum(cb) OVER (PARTITION BY source_a, source_b ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cumb
        |  FROM mg),
        |d AS (SELECT c2.source_a, c2.source_b, na, nb,
        |    abs(cuma * nb - cumb * na) AS dd
        |  FROM cum c2 JOIN pr ON c2.source_a = pr.source_a
        |    AND c2.source_b = pr.source_b)
        |SELECT source_a, source_b, na AS n_a, nb AS n_b,
        |  CAST(1000000 * max(dd) // (na * nb) AS BIGINT) AS ks_ppm
        |FROM d GROUP BY source_a, source_b, na, nb""".stripMargin,
    "q219_embargo_split" ->
      """WITH e AS (SELECT
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    user_id AS u FROM events),
        |sp AS (SELECT max(day) - 3 AS s FROM e)
        |SELECT CASE WHEN day < s - 2 THEN 'train'
        |    WHEN day < s THEN 'embargo' ELSE 'test' END AS segment,
        |  count(*) AS n_events, count(DISTINCT u) AS n_users,
        |  min(day) AS first_day, max(day) AS last_day
        |FROM e CROSS JOIN sp GROUP BY 1""".stripMargin,
    "q215_retrieval_metrics" ->
      retrievalMetricsOracleSql(bm25TopSql, "bm25", 10),
    "q216_spearman_by_source" ->
      s"""WITH t AS (SELECT doc_id, source, n_chars,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |r AS (SELECT source,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS ra,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rb
         |  FROM t)
         |SELECT source, count(*) AS n,
         |  CASE WHEN count(*) > 1
         |    THEN round(1e0 - CAST(6 * sum((ra - rb) * (ra - rb)) AS DOUBLE)
         |      / CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE), 6)
         |    ELSE 0e0 END AS spearman_rho
         |FROM r GROUP BY source""".stripMargin,
    "q217_length_gini" ->
      """WITH r AS (SELECT source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS i
        |  FROM documents)
        |SELECT source, count(*) AS n,
        |  CASE WHEN sum(n_chars) > 0 THEN
        |    round(CAST(2 * sum(i * n_chars) - (count(*) + 1) * sum(n_chars)
        |        AS DOUBLE) / CAST(count(*) * sum(n_chars) AS DOUBLE), 6)
        |  ELSE 0e0 END AS gini
        |FROM r GROUP BY source""".stripMargin,
    "q150_session_funnel" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |ev AS (
        |  SELECT CAST(user_id AS VARCHAR) || ':' ||
        |      CAST(CAST(sum(is_new) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS VARCHAR) AS sk,
        |    ts, event_id, event_type
        |  FROM flagged),
        |f1 AS (SELECT sk, ts, event_id FROM (
        |    SELECT sk, ts, event_id,
        |      row_number() OVER (PARTITION BY sk ORDER BY ts, event_id) AS rn
        |    FROM ev WHERE event_type = 'view') WHERE rn = 1),
        |f2 AS (SELECT sk, ts, event_id FROM (
        |    SELECT e.sk, e.ts, e.event_id,
        |      row_number() OVER (PARTITION BY e.sk ORDER BY e.ts, e.event_id) AS rn
        |    FROM ev e JOIN f1 ON e.sk = f1.sk
        |    WHERE e.event_type = 'click'
        |      AND (e.ts > f1.ts OR (e.ts = f1.ts AND e.event_id > f1.event_id)))
        |  WHERE rn = 1),
        |f3 AS (SELECT sk FROM (
        |    SELECT e.sk,
        |      row_number() OVER (PARTITION BY e.sk ORDER BY e.ts, e.event_id) AS rn
        |    FROM ev e JOIN f2 ON e.sk = f2.sk
        |    WHERE e.event_type = 'purchase'
        |      AND (e.ts > f2.ts OR (e.ts = f2.ts AND e.event_id > f2.event_id)))
        |  WHERE rn = 1),
        |d AS (SELECT u.sk,
        |    CASE WHEN f3.sk IS NOT NULL THEN 3
        |         WHEN f2.sk IS NOT NULL THEN 2
        |         WHEN f1.sk IS NOT NULL THEN 1
        |         ELSE 0 END AS depth
        |  FROM (SELECT DISTINCT sk FROM ev) u
        |  LEFT JOIN f1 ON u.sk = f1.sk
        |  LEFT JOIN f2 ON u.sk = f2.sk
        |  LEFT JOIN f3 ON u.sk = f3.sk)
        |SELECT depth, count(*) AS n_sessions FROM d GROUP BY depth""".stripMargin,
    "q151_frame_sample" -> {
      // digest-once parity: the blob hex folds to ONE 60-bit digest per
      // media row; per-(frame, dim) hashing mixes only the decimal digest
      val fcols = (0 until 4).map(i =>
        s"((${hash31Sql("CAST(dg AS VARCHAR) || '#' || CAST(frame_no AS VARCHAR) || ':' || " + i)}) " +
          s"% 1000003)::DOUBLE / 1000003 AS f$i").mkString(",\n  ")
      s"""WITH m AS (SELECT doc_id AS media_id,
         |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
         |    (${hash60Sql("sha256(CAST(doc_id AS VARCHAR))")}) AS dg,
         |    doc_id % 60000 AS duration_ms
         |  FROM documents),
         |fr AS (SELECT media_id, dg,
         |    unnest(range(0, CAST(ceil(duration_ms * 30e0 / 1000e0) AS BIGINT)))
         |      AS frame_no
         |  FROM m WHERE kind = 'video')
         |SELECT media_id, CAST(frame_no AS INTEGER) AS frame_no,
         |  CAST(floor(frame_no * 1000e0 / 30e0) AS BIGINT) AS ts_ms,
         |  $fcols
         |FROM fr""".stripMargin
    },
    "q152_resize_plan" ->
      // scale rounds to 6 for display; the floor/compare arithmetic uses
      // the UNROUNDED scale on both sides (identical IEEE division)
      """WITH m AS (SELECT doc_id AS media_id,
        |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |    CAST(doc_id % 640 + 32 AS INTEGER) AS width,
        |    CAST(doc_id % 480 + 32 AS INTEGER) AS height
        |  FROM documents),
        |s AS (SELECT *,
        |    least(1e0, 256e0 / CAST(greatest(width, height) AS DOUBLE)) AS sc
        |  FROM m)
        |SELECT media_id, kind, width, height,
        |  round(CASE WHEN kind = 'image' THEN sc ELSE 1e0 END, 6) AS scale,
        |  CASE WHEN kind = 'image'
        |       THEN greatest(CAST(floor(width * sc) AS INTEGER), 1)
        |       ELSE width END AS target_width,
        |  CASE WHEN kind = 'image'
        |       THEN greatest(CAST(floor(height * sc) AS INTEGER), 1)
        |       ELSE height END AS target_height,
        |  (kind = 'image' AND sc < 1e0) AS needs_resize
        |FROM s""".stripMargin,
    "q153_duplicate_spans" ->
      s"""WITH $dupSpanCtesSql
         |SELECT doc_a, doc_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
         |  count(*) AS n_grams, count(*) + 2 AS run_tokens
         |FROM d GROUP BY doc_a, doc_b, diag, grp
         |HAVING count(*) >= 2""".stripMargin,
    "q154_span_dedup" ->
      // islands → doc_b token ranges [s, e] → per-doc overlap merge (the
      // running-max-end gaps-and-islands) → positional token drop. Spark's
      // indexed array filter is 0-based, DuckDB's p is the 1-based range
      // value — both compare 1-based positions.
      s"""WITH $dupSpanCtesSql,
         |r AS (SELECT DISTINCT doc_b AS doc_id, min(pos_b) AS s,
         |    min(pos_b) + count(*) + 1 AS e
         |  FROM d GROUP BY doc_a, doc_b, diag, grp HAVING count(*) >= 2),
         |mr AS (SELECT doc_id, s, e, CASE WHEN s > coalesce(max(e) OVER (
         |      PARTITION BY doc_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |    THEN 1 ELSE 0 END AS brk
         |  FROM r),
         |mi AS (SELECT doc_id, s, e, sum(brk) OVER (
         |    PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS isl
         |  FROM mr),
         |mg AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM mi
         |  GROUP BY doc_id, isl),
         |tp AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p
         |  FROM toks WHERE len(t) > 0),
         |cv AS (SELECT tp.doc_id, tp.p, tp.t[tp.p] AS tok,
         |    CASE WHEN mg.doc_id IS NULL THEN 0 ELSE 1 END AS covered
         |  FROM tp LEFT JOIN mg
         |    ON tp.doc_id = mg.doc_id AND tp.p BETWEEN mg.s AND mg.e)
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
         |  CAST(sum(covered) AS INTEGER) AS n_removed,
         |  coalesce(array_to_string(
         |    list(tok ORDER BY p) FILTER (WHERE covered = 0), ' '), '')
         |    AS clean_text
         |FROM cv GROUP BY doc_id""".stripMargin,
    "q155_hybrid_rrf" -> hybridRrfOracleSql,
    // the eval over the fused ranking — same relevance rule as q215,
    // k=5 on the fused top-10
    "q227_hybrid_retrieval_eval" ->
      retrievalMetricsOracleSql(hybridRrfOracleSql, "rrf_score", 5),
    "q228_embargo_by_type" ->
      """WITH e AS (SELECT event_type,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    user_id AS u FROM events),
        |sp AS (SELECT max(day) - 3 AS s FROM e)
        |SELECT event_type, CASE WHEN day < s - 2 THEN 'train'
        |    WHEN day < s THEN 'embargo' ELSE 'test' END AS segment,
        |  count(*) AS n_events, count(DISTINCT u) AS n_users,
        |  min(day) AS first_day, max(day) AS last_day
        |FROM e CROSS JOIN sp GROUP BY 1, 2""".stripMargin,
    "q156_triangle_counts" ->
      """WITH lagd AS (SELECT event_type AS dst,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS src
        |  FROM events),
        |ed AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM lagd WHERE src IS NOT NULL AND src <> dst),
        |tr AS (SELECT ab.a AS a, ab.b AS b, bc.b AS c
        |  FROM ed ab JOIN ed bc ON ab.b = bc.a
        |  WHERE EXISTS (SELECT 1 FROM ed ac
        |                WHERE ac.a = ab.a AND ac.b = bc.b)),
        |nd AS (SELECT unnest([a, b, c]) AS node FROM tr)
        |SELECT node, count(*) AS n_triangles FROM nd GROUP BY node""".stripMargin,
    "q157_incremental_span_scrub" ->
      // reuses the q153 gram chain (base/toks/pos/gr); the batch/corpus
      // split is on doc_id parity, the droplist is CORPUS-side only, and
      // the scrub tail is q154's with batch-only token streams
      s"""WITH $dupSpanCtesSql,
         |gb AS (SELECT * FROM gr WHERE doc_id % 2 = 1),
         |gc AS (SELECT * FROM gr WHERE doc_id % 2 = 0),
         |hot2 AS (SELECT h FROM gc GROUP BY h HAVING count(*) > 20),
         |m2 AS (SELECT c.doc_id AS doc_a, c.pos AS pos_a,
         |    b.doc_id AS doc_b, b.pos AS pos_b
         |  FROM gc c JOIN gb b ON c.h = b.h
         |  WHERE c.h NOT IN (SELECT h FROM hot2)),
         |d2 AS (SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
         |    pos_a - row_number() OVER (
         |      PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
         |  FROM m2),
         |r2 AS (SELECT DISTINCT doc_b AS doc_id, min(pos_b) AS s,
         |    min(pos_b) + count(*) + 1 AS e
         |  FROM d2 GROUP BY doc_a, doc_b, diag, grp HAVING count(*) >= 2),
         |mr2 AS (SELECT doc_id, s, e, CASE WHEN s > coalesce(max(e) OVER (
         |      PARTITION BY doc_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |    THEN 1 ELSE 0 END AS brk
         |  FROM r2),
         |mi2 AS (SELECT doc_id, s, e, sum(brk) OVER (
         |    PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS isl
         |  FROM mr2),
         |mg2 AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM mi2
         |  GROUP BY doc_id, isl),
         |tp2 AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p
         |  FROM toks WHERE doc_id % 2 = 1 AND len(t) > 0),
         |cv2 AS (SELECT tp2.doc_id, tp2.p, tp2.t[tp2.p] AS tok,
         |    CASE WHEN mg2.doc_id IS NULL THEN 0 ELSE 1 END AS covered
         |  FROM tp2 LEFT JOIN mg2
         |    ON tp2.doc_id = mg2.doc_id AND tp2.p BETWEEN mg2.s AND mg2.e)
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
         |  CAST(sum(covered) AS INTEGER) AS n_removed,
         |  coalesce(array_to_string(
         |    list(tok ORDER BY p) FILTER (WHERE covered = 0), ' '), '')
         |    AS clean_text
         |FROM cv2 GROUP BY doc_id""".stripMargin,
    "q158_source_quality_gate" ->
      s"""WITH f AS ($qualityFeaturesSql),
         |sc AS (SELECT f.doc_id, d.source,
         |    round(1.0 / (1.0 + exp(-(-2.0 + 0.45 * ln(1.0 + n_tokens)
         |      + 3.0 * stopword_ratio + 0.15 * mean_token_len
         |      - 8.0 * punct_ratio))), 6) AS quality_prob
         |  FROM f JOIN documents d USING (doc_id)),
         |good AS (SELECT source FROM sc GROUP BY source
         |  HAVING round(avg(quality_prob), 6) >= 0.625e0)
         |SELECT doc_id, source, quality_prob FROM sc
         |WHERE source IN (SELECT source FROM good)""".stripMargin,
    "q159_clustering_coeff" ->
      """WITH lagd AS (SELECT event_type AS dst,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS src
        |  FROM events),
        |ed AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM lagd WHERE src IS NOT NULL AND src <> dst),
        |tr AS (SELECT ab.a AS a, ab.b AS b, bc.b AS c
        |  FROM ed ab JOIN ed bc ON ab.b = bc.a
        |  WHERE EXISTS (SELECT 1 FROM ed ac
        |                WHERE ac.a = ab.a AND ac.b = bc.b)),
        |tc AS (SELECT node, count(*) AS n_triangles
        |  FROM (SELECT unnest([a, b, c]) AS node FROM tr) GROUP BY node),
        |dg AS (SELECT node, count(*) AS degree
        |  FROM (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed)
        |  GROUP BY node)
        |SELECT dg.node, dg.degree, coalesce(tc.n_triangles, 0) AS n_triangles,
        |  round(CASE WHEN dg.degree < 2 THEN (0.0)::DOUBLE
        |    ELSE 2e0 * coalesce(tc.n_triangles, 0) /
        |      (dg.degree * (dg.degree - 1)) END, 6) AS clustering_coeff
        |FROM dg LEFT JOIN tc USING (node)""".stripMargin,
    "q160_cluster_best_keeper" ->
      s"""WITH RECURSIVE ${jaccardPairCtesSql(2, 0.8)},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION ALL SELECT id_b, id_a FROM jp),
         |reach(src, dst) AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
         |  FROM reach GROUP BY src),
         |f AS ($qualityFeaturesSql),
         |sc AS (SELECT doc_id,
         |    round(1.0 / (1.0 + exp(-(-2.0 + 0.45 * ln(1.0 + n_tokens)
         |      + 3.0 * stopword_ratio + 0.15 * mean_token_len
         |      - 8.0 * punct_ratio))), 6) AS quality_prob
         |  FROM f),
         |rk AS (SELECT cl.cluster_rep, cl.doc_id, sc.quality_prob,
         |    row_number() OVER (PARTITION BY cl.cluster_rep
         |      ORDER BY sc.quality_prob DESC, cl.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cl.cluster_rep) AS cluster_size
         |  FROM cl JOIN sc USING (doc_id))
         |SELECT cluster_rep, doc_id AS keeper_id,
         |  quality_prob AS keeper_quality, cluster_size
         |FROM rk WHERE rn = 1""".stripMargin,
    "q161_scd2_merge" ->
      """WITH dim AS (SELECT c_custkey, c_mktsegment AS segment,
        |    round(c_acctbal, 2) AS acctbal FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_mktsegment AS segment,
        |      round(c_acctbal + 100, 2) AS acctbal
        |    FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, round(c_acctbal, 2)
        |    FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT -c_custkey - 1, c_mktsegment, round(c_acctbal, 2)
        |    FROM customer WHERE c_custkey % 13 = 0),
        |j AS (SELECT coalesce(c.c_custkey, u.c_custkey) AS k,
        |    c.c_custkey IS NOT NULL AS cex, u.c_custkey IS NOT NULL AS uex,
        |    c.segment AS cs, c.acctbal AS cb, u.segment AS us,
        |    u.acctbal AS ub,
        |    (c.segment IS NOT DISTINCT FROM u.segment AND
        |     c.acctbal IS NOT DISTINCT FROM u.acctbal) AS eq
        |  FROM dim c FULL OUTER JOIN upd u ON c.c_custkey = u.c_custkey)
        |SELECT k AS c_custkey, cs AS segment, cb AS acctbal,
        |    CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
        |    true AS is_current
        |  FROM j WHERE cex AND (NOT uex OR eq)
        |UNION ALL
        |SELECT k, cs, cb, CAST(0 AS BIGINT), CAST(100 AS BIGINT), false
        |  FROM j WHERE cex AND uex AND NOT eq
        |UNION ALL
        |SELECT k, us, ub, CAST(100 AS BIGINT), CAST(NULL AS BIGINT), true
        |  FROM j WHERE uex AND (NOT cex OR NOT eq)""".stripMargin,
    "q162_scd2_changelog" ->
      """WITH o AS (SELECT user_id, event_type AS status, ts, event_id
        |  FROM events),
        |m AS (SELECT user_id, status, ts, event_id,
        |    row_number() OVER w AS rn, lag(status) OVER w AS prev
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |h AS (SELECT user_id, status, ts, event_id FROM m
        |  WHERE rn = 1 OR status IS DISTINCT FROM prev),
        |f AS (SELECT user_id, status, ts, lead(ts) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS nts
        |  FROM h)
        |SELECT user_id, status,
        |  CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
        |  CAST(epoch_us(nts) AS BIGINT) AS valid_to_us,
        |  nts IS NULL AS is_current
        |FROM f""".stripMargin,
    "q163_group_trend" ->
      s"""WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
         |    round(sum(value)) AS y
         |  FROM events GROUP BY 1, 2),
         |pts AS (SELECT event_type,
         |    CAST(CAST(epoch(day) AS BIGINT) // 86400 - 20000 AS DOUBLE) AS x,
         |    y FROM daily),
         |tr AS (SELECT event_type, count(*) AS n_rows,
         |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |    sum(x * x) AS sxx, sum(y * y) AS syy
         |  FROM pts GROUP BY 1)
         |SELECT event_type, n_rows,
         |  ${Regression.groupTrendExprsSql(6).mkString(",\n  ")}
         |FROM tr""".stripMargin,
    "q164_ols_fit" -> Regression.olsFitSql(
      """(SELECT round(l_extendedprice) AS y, l_quantity AS q,
        |  round(l_discount * 100) AS disc100,
        |  round(l_tax * 100) AS tax100 FROM lineitem)""".stripMargin,
      "y", Seq("q", "disc100", "tax100"), Seq("q", "disc100", "tax100")),
    "q165_ols_outliers" ->
      s"""WITH li AS (SELECT l_orderkey, l_linenumber,
         |    round(l_extendedprice) AS y, l_quantity AS q,
         |    round(l_discount * 100) AS disc100,
         |    round(l_tax * 100) AS tax100 FROM lineitem),
         |${Regression.olsCoefSqlCtes("li", "y",
              Seq("q", "disc100", "tax100"))},
         |scored AS (SELECT l_orderkey, l_linenumber, y,
         |    round(y - (b_0 + b_1 * q + b_2 * disc100 + b_3 * tax100), 6)
         |      AS resid
         |  FROM li CROSS JOIN ols_coef)
         |SELECT l_orderkey, l_linenumber, y, resid FROM scored
         |ORDER BY abs(resid) DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "q166_event_type_pivot" ->
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY 1""".stripMargin,
    "q167_rolling_active_users" ->
      """WITH du AS (SELECT DISTINCT
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d,
        |    user_id
        |  FROM events),
        |mx AS (SELECT max(d) AS mxd FROM du),
        |one AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS users_1d
        |  FROM du GROUP BY 1),
        |ex AS (SELECT unnest(range(d, d + 7)) AS td, user_id FROM du),
        |roll AS (SELECT td, CAST(count(DISTINCT user_id) AS BIGINT) AS users_7d
        |  FROM ex CROSS JOIN mx WHERE td <= mxd GROUP BY td)
        |SELECT one.d * 86400 AS day_epoch, users_1d, users_7d
        |FROM one JOIN roll ON one.d = roll.td""".stripMargin,
    "q168_holt_trend" ->
      // the level expression appears verbatim inside the trend update —
      // mirroring holtSmooth's doubled expression so list_reduce replays
      // the identical IEEE operation sequence (q116's fold discipline,
      // state lifted to [level, trend] pairs)
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 4) AS v
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type,
        |    list(CAST(epoch(day) AS BIGINT) ORDER BY day) AS ds,
        |    list(v ORDER BY day) AS vs
        |  FROM daily GROUP BY 1),
        |st AS (SELECT event_type, ds, vs,
        |    list_transform(range(1, len(vs) + 1), t ->
        |      list_reduce(list_transform(list_slice(vs, 1, t), x -> [x, 0e0]),
        |        (a, b) -> [0.5e0 * b[1] + 0.5e0 * (a[1] + a[2]),
        |                   0.25e0 * ((0.5e0 * b[1] + 0.5e0 * (a[1] + a[2]))
        |                     - a[1]) + 0.75e0 * a[2]])) AS sts
        |  FROM ser)
        |SELECT event_type, unnest(ds) AS day_epoch, unnest(vs) AS day_total,
        |  unnest(list_transform(sts, p -> round(p[1], 6))) AS level,
        |  unnest(list_transform(sts, p -> round(p[2], 6))) AS trend,
        |  unnest(list_transform(sts, p -> round(p[1] + p[2], 6))) AS forecast
        |FROM st""".stripMargin,
    "q169_dsir_weights" ->
      s"""WITH $dsirCtesSql
         |SELECT doc_id, n_feats, dsir_ppm, dsir_avg FROM dw""".stripMargin,
    "q170_dsir_select" ->
      s"""WITH $dsirCtesSql,
         |thr AS (SELECT round(quantile_cont(dsir_ppm, 0.75), 6) AS thr
         |  FROM dw)
         |SELECT source, count(*) AS n_kept,
         |  CAST(sum(dsir_ppm) AS BIGINT) AS sum_dsir_ppm,
         |  bit_xor(doc_id) AS id_checksum
         |FROM dw JOIN documents USING (doc_id) CROSS JOIN thr
         |WHERE dsir_ppm > thr GROUP BY source""".stripMargin,
    "q171_bpe_merges" -> bpeOracleSql(6),
    "q179_bpe_encode" -> bpeEncodeOracleSql(6),
    "q180_pmi_collocations" ->
      s"""WITH tf AS (SELECT DISTINCT doc_id, term FROM
         |  (SELECT doc_id, unnest($toksSql) AS term FROM documents)),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
         |  FROM documents),
         |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |  FROM tf GROUP BY 1),
         |pairs AS (SELECT a.term AS term_a, b.term AS term_b,
         |    CAST(count(*) AS BIGINT) AS n_docs_both
         |  FROM tf a JOIN tf b ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT term_a, term_b, n_docs_both,
         |  round(ln(n_docs_both * n / (dfa.df * dfb.df)), 6) AS pmi
         |FROM pairs JOIN dfr dfa ON pairs.term_a = dfa.term
         |JOIN dfr dfb ON pairs.term_b = dfb.term CROSS JOIN n
         |ORDER BY pmi DESC, term_a, term_b LIMIT 50""".stripMargin,
    "q181_conversion_latency" ->
      """WITH f1 AS (SELECT user_id, ts, event_id FROM (
        |    SELECT user_id, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events WHERE event_type = 'view') WHERE rn = 1),
        |f2 AS (SELECT user_id, ts, event_id FROM (
        |    SELECT e.user_id, e.ts, e.event_id,
        |      row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        |    FROM events e JOIN f1 ON e.user_id = f1.user_id
        |    WHERE e.event_type = 'click'
        |      AND (e.ts > f1.ts OR (e.ts = f1.ts AND e.event_id > f1.event_id)))
        |  WHERE rn = 1),
        |f3 AS (SELECT user_id, ts, event_id FROM (
        |    SELECT e.user_id, e.ts, e.event_id,
        |      row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        |    FROM events e JOIN f2 ON e.user_id = f2.user_id
        |    WHERE e.event_type = 'purchase'
        |      AND (e.ts > f2.ts OR (e.ts = f2.ts AND e.event_id > f2.event_id)))
        |  WHERE rn = 1),
        |lat AS (SELECT epoch_us(f3.ts) - epoch_us(f1.ts) AS latency_us
        |  FROM f3 JOIN f1 ON f3.user_id = f1.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  CAST(min(latency_us) AS BIGINT) AS min_us,
        |  round(quantile_cont(latency_us, 0.25) / 1000000e0, 4) AS p25_s,
        |  round(quantile_cont(latency_us, 0.5) / 1000000e0, 4) AS p50_s,
        |  round(quantile_cont(latency_us, 0.75) / 1000000e0, 4) AS p75_s,
        |  CAST(max(latency_us) AS BIGINT) AS max_us
        |FROM lat""".stripMargin,
    "q182_rolling_users_sketched" ->
      """WITH du AS (SELECT DISTINCT
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d,
        |    user_id
        |  FROM events),
        |mx AS (SELECT max(d) AS mxd FROM du),
        |one AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS users_1d
        |  FROM du GROUP BY 1),
        |ex AS (SELECT unnest(range(d, d + 7)) AS td, user_id FROM du),
        |roll AS (SELECT td, CAST(count(DISTINCT user_id) AS BIGINT) AS users_7d
        |  FROM ex CROSS JOIN mx WHERE td <= mxd GROUP BY td)
        |SELECT one.d * 86400 AS day_epoch, users_1d, users_7d,
        |  true AS approx_ok
        |FROM one JOIN roll ON one.d = roll.td""".stripMargin,
    "q183_containment_indexed" ->
      s"""WITH tdocs AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |rel AS (SELECT doc_id, tk FROM tdocs
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |    list_slice(tk, 1, greatest(len(tk) // 2, 1)) AS tk
         |  FROM tdocs),
         |shd AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         |    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) END AS s
         |  FROM rel),
         |hh AS (SELECT doc_id,
         |    list_sort(list_distinct(list_transform(s,
         |      x -> (${hash31Sql("x")})))) AS h
         |  FROM shd WHERE len(s) > 0),
         |anchors AS (SELECT id_a, key FROM (
         |    SELECT doc_id AS id_a, h[1] AS key,
         |      row_number() OVER (PARTITION BY h[1] ORDER BY doc_id) AS rn
         |    FROM hh WHERE doc_id >= 1000000) WHERE rn <= 10000),
         |keys AS (SELECT id_b, key FROM (
         |    SELECT doc_id AS id_b, key,
         |      row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn
         |    FROM (SELECT doc_id, unnest(h) AS key FROM hh
         |          WHERE doc_id < 1000000))
         |  WHERE rn <= 10000),
         |cand AS (SELECT DISTINCT id_a, id_b
         |  FROM anchors JOIN keys USING (key) WHERE id_a != id_b),
         |res AS (SELECT id_a, id_b,
         |    round(CAST(len(list_filter(a.h, x -> list_contains(b.h, x)))
         |      AS DOUBLE) / len(a.h), 6) AS containment
         |  FROM cand JOIN hh a ON cand.id_a = a.doc_id
         |    JOIN hh b ON cand.id_b = b.doc_id)
         |SELECT id_a, id_b, containment FROM res
         |WHERE containment >= 0.9""".stripMargin,
    "q184_session_paths" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |ev AS (
        |  SELECT CAST(user_id AS VARCHAR) || ':' ||
        |      CAST(CAST(sum(is_new) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS VARCHAR) AS sk,
        |    ts, event_id, event_type
        |  FROM flagged),
        |s AS (SELECT sk,
        |    list(event_type ORDER BY ts, event_id) AS seq
        |  FROM ev GROUP BY sk),
        |g AS (SELECT unnest(CASE WHEN len(seq) < 3 THEN []::VARCHAR[]
        |    ELSE list_transform(range(1, len(seq) - 1),
        |      i -> array_to_string(list_slice(seq, i, i + 2), ' > '))
        |    END) AS path
        |  FROM s)
        |SELECT path, count(*) AS n_occurrences FROM g
        |GROUP BY path ORDER BY n_occurrences DESC, path LIMIT 10""".stripMargin,
    "q185_wcc_census" ->
      s"""WITH RECURSIVE lagd AS (SELECT event_type AS dst,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM events),
         |edges AS (SELECT src, dst, count(*) AS w FROM lagd
         |  WHERE src IS NOT NULL GROUP BY src, dst),
         |mx AS (SELECT max(w) AS mw FROM edges),
         |kept AS (SELECT src, dst FROM edges CROSS JOIN mx
         |  WHERE w >= mw // 2),
         |hp AS (SELECT (${hash31Sql("src")}) AS ha,
         |    (${hash31Sql("dst")}) AS hb FROM kept),
         |e2 AS (SELECT ha AS src, hb AS dst FROM hp
         |       UNION ALL SELECT hb, ha FROM hp),
         |reach(src, dst) AS (SELECT src, dst FROM e2
         |  UNION SELECT r.src, e.dst FROM reach r JOIN e2 e ON r.dst = e.src),
         |cl AS (SELECT src AS node, least(src, min(dst)) AS rep
         |  FROM reach GROUP BY src),
         |sz AS (SELECT rep, count(*) AS component_size FROM cl GROUP BY rep)
         |SELECT component_size, count(*) AS n_components FROM sz
         |GROUP BY component_size""".stripMargin,
    "q186_lexical_diversity" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
         |  GROUP BY doc_id, term),
         |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    count(*) AS n_types,
         |    CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hapax,
         |    sum(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE))) AS sclnc
         |  FROM tf GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         |    AS ttr,
         |  round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
         |    AS hapax_ratio,
         |  round(ln(CAST(n_tokens AS DOUBLE)) -
         |    sclnc / CAST(n_tokens AS DOUBLE), 6) AS word_entropy
         |FROM a""".stripMargin,
    "q187_zipf_fit" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS term FROM documents),
         |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
         |hd AS (SELECT cnt, term FROM c ORDER BY cnt DESC, term LIMIT 500),
         |r AS (SELECT row_number() OVER (ORDER BY cnt DESC, term) AS rnk,
         |    cnt FROM hd),
         |xy AS (SELECT ln(CAST(rnk AS DOUBLE)) AS x,
         |    ln(CAST(cnt AS DOUBLE)) AS y FROM r),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
         |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
         |    sum(y * y) AS syy FROM xy)
         |SELECT CAST(n AS BIGINT) AS n_ranks,
         |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
         |    AS zipf_slope,
         |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
         |    / n, 6) AS zipf_intercept,
         |  round(pow(n * sxy - sx * sy, 2) /
         |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
         |FROM m""".stripMargin,
    "q188_repeat_epochs" ->
      s"""WITH ps AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
         |    count(*) AS ns FROM ps),
         |j AS (SELECT source, n_docs, n_tokens, tt,
         |    (4 * tt) // ns AS share FROM ps CROSS JOIN tot),
         |e AS (SELECT source, n_docs, n_tokens, tt,
         |    least(8, greatest(1, share // n_tokens)) AS epochs FROM j)
         |SELECT source, n_docs, n_tokens, epochs,
         |  epochs * n_tokens AS contributed_tokens,
         |  250000 * epochs * n_tokens // tt AS budget_share_ppm
         |FROM e""".stripMargin,
    "q189_data_card" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
         |  GROUP BY doc_id, term),
         |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    count(*) AS n_types,
         |    sum(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE))) AS sclnc
         |  FROM tf GROUP BY doc_id),
         |dv AS (SELECT doc_id, n_tokens,
         |    CAST(round(round(CAST(n_types AS DOUBLE) /
         |      CAST(n_tokens AS DOUBLE), 6) * 1e6) AS BIGINT) AS ttr_ppm,
         |    CAST(round(round(ln(CAST(n_tokens AS DOUBLE)) -
         |      sclnc / CAST(n_tokens AS DOUBLE), 6) * 1e6) AS BIGINT)
         |      AS went_ppm
         |  FROM a),
         |b AS (SELECT doc_id, source, lang, (${hash31Sql("text")}) AS th
         |  FROM documents),
         |ag AS (SELECT source, count(*) AS n_docs,
         |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS total_tokens,
         |    count(DISTINCT th) AS ndt,
         |    round(CAST(sum(went_ppm) AS DOUBLE) /
         |      (count(n_tokens) * 1000000), 6) AS mean_entropy,
         |    round(CAST(sum(ttr_ppm) AS DOUBLE) /
         |      (count(n_tokens) * 1000000), 6) AS mean_ttr
         |  FROM b LEFT JOIN dv USING (doc_id) GROUP BY source),
         |lc AS (SELECT source, lang, count(*) AS c FROM documents
         |  GROUP BY source, lang),
         |tl AS (SELECT source, lang AS top_lang FROM (
         |    SELECT source, lang, row_number() OVER (PARTITION BY source
         |      ORDER BY c DESC, lang) AS rn FROM lc)
         |  WHERE rn = 1)
         |SELECT ag.source, n_docs, total_tokens,
         |  round(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |    AS avg_doc_tokens,
         |  (1000000 * (n_docs - ndt)) // n_docs AS dup_ppm,
         |  mean_entropy, mean_ttr, top_lang
         |FROM ag JOIN tl ON ag.source = tl.source""".stripMargin,
    "q190_winsorized_value" ->
      s"""WITH f AS (SELECT event_type,
         |    round(quantile_cont(value, 0.01), 6) AS plo,
         |    round(quantile_cont(value, 0.99), 6) AS phi
         |  FROM events GROUP BY event_type)
         |SELECT e.event_type, count(*) AS n,
         |  round(avg(value), 6) AS mean_raw,
         |  any_value(plo) AS p_lo, any_value(phi) AS p_hi,
         |  round(avg(greatest(plo, least(phi, value))), 6)
         |    AS mean_winsorized,
         |  CAST(sum(CASE WHEN value < plo THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clamped_low,
         |  CAST(sum(CASE WHEN value > phi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clamped_high
         |FROM events e JOIN f ON e.event_type = f.event_type
         |GROUP BY e.event_type""".stripMargin,
    "q191_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT event_type AS t, user_id AS u
        |  FROM events),
        |per AS (SELECT t, count(*) AS n FROM ut GROUP BY t),
        |bo AS (SELECT x.t AS type_a, y.t AS type_b, count(*) AS n_both
        |  FROM ut x JOIN ut y ON x.u = y.u AND x.t < y.t
        |  GROUP BY x.t, y.t),
        |j AS (SELECT type_a, type_b, pa.n AS n_a, pb.n AS n_b, n_both
        |  FROM bo JOIN per pa ON type_a = pa.t
        |    JOIN per pb ON type_b = pb.t)
        |SELECT type_a, type_b, n_a, n_b, n_both,
        |  n_a + n_b - n_both AS n_union,
        |  (1000000 * n_both) // (n_a + n_b - n_both) AS jaccard_ppm,
        |  true AS approx_ok
        |FROM j""".stripMargin,
    "q192_daily_correlation" ->
      """WITH daily AS (SELECT epoch(date_trunc('day', ts)) // 86400 AS d,
        |    event_type AS t, count(*) AS c
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY d, t),
        |a AS (SELECT d, c FROM daily WHERE t = 'view'),
        |b AS (SELECT d, c FROM daily WHERE t = 'purchase'),
        |j AS (SELECT coalesce(a.c, 0) AS x, coalesce(b.c, 0) AS y
        |  FROM a FULL OUTER JOIN b ON a.d = b.d),
        |m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy FROM j)
        |SELECT n AS n_days, sx AS n_a, sy AS n_b,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |      CAST(n * syy - sy * sy AS DOUBLE)), 6) AS pearson_r
        |FROM m""".stripMargin,
    "q193_bpe_fertility" ->
      s"""WITH ${bpeCtesSql(6)},
         |docw AS (SELECT doc_id, w FROM
         |  (SELECT doc_id, unnest($toksSql) AS w FROM documents)
         |  WHERE NOT contains(w, '|')),
         |enc AS (SELECT w,
         |    CAST(len(string_split(s[2:-2], '||')) AS BIGINT) AS nsym,
         |    CAST(len(w) AS BIGINT) AS nch
         |  FROM w6),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
         |    CAST(sum(nsym) AS BIGINT) AS ns,
         |    CAST(sum(nch) AS BIGINT) AS nc
         |  FROM docw JOIN enc USING (w) GROUP BY doc_id)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(ns) AS BIGINT) AS n_symbols,
         |  CAST(sum(nc) AS BIGINT) AS n_chars,
         |  round(CAST(sum(ns) AS DOUBLE) / CAST(sum(nw) AS DOUBLE), 6)
         |    AS fertility,
         |  round(CAST(sum(ns) AS DOUBLE) / CAST(sum(nc) AS DOUBLE), 6)
         |    AS symbols_per_char
         |FROM documents JOIN pd USING (doc_id) GROUP BY lang""".stripMargin,
    "q194_centroid_drift" ->
      """WITH e AS (SELECT vec_id, label,
        |    CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS s,
        |    embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |x AS (SELECT label, s, i, avg(v[i]) AS c
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        |  GROUP BY label, s, i),
        |j AS (SELECT a.label, sum(a.c * b.c) AS ab,
        |    sum(a.c * a.c) AS aa, sum(b.c * b.c) AS bb
        |  FROM x a JOIN x b ON a.label = b.label AND a.i = b.i
        |    AND a.s = 'a' AND b.s = 'b'
        |  GROUP BY a.label),
        |n AS (SELECT label,
        |    CAST(sum(CASE WHEN s = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN s = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM e GROUP BY label)
        |SELECT j.label, n_a, n_b,
        |  round(ab / (sqrt(aa) * sqrt(bb)), 6) AS drift_cos
        |FROM j JOIN n ON j.label = n.label""".stripMargin,
    "q195_hard_negatives" ->
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
        |  FROM embeddings),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    c.label AS neighbor_label,
        |    round(list_sum(list_transform(range(1, 65), i -> c.e[i] * p.e[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i] * c.e[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> p.e[i] * p.e[i])))), 6)
        |      AS sim
        |  FROM v p JOIN v c ON c.label != p.label
        |  WHERE p.vec_id < 10)
        |SELECT probe_id, neighbor_id, neighbor_label, sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
        |        ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 3""".stripMargin,
    "q196_leakage_safe_split" ->
      s"""WITH RECURSIVE ${jaccardPairCtesSql(2, 0.8)},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION ALL SELECT id_b, id_a FROM jp),
         |reach(src, dst) AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
         |  FROM reach GROUP BY src),
         |dr AS (SELECT d.doc_id, coalesce(cl.rep, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |sp AS (SELECT rep,
         |    ${splitCaseSql("CAST(rep AS VARCHAR)", 80, 10)} AS split
         |  FROM dr)
         |SELECT split, count(*) AS n_docs, count(DISTINCT rep) AS n_clusters
         |FROM sp GROUP BY split""".stripMargin,
    "q197_split_leakage" ->
      s"""WITH ${jaccardPairCtesSql(2, 0.8)},
         |lab AS (SELECT
         |    ${splitCaseSql("CAST(id_a AS VARCHAR)", 80, 10)} AS sa,
         |    ${splitCaseSql("CAST(id_b AS VARCHAR)", 80, 10)} AS sb
         |  FROM jp)
         |SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
         |  count(*) AS n_pairs
         |FROM lab GROUP BY least(sa, sb), greatest(sa, sb)""".stripMargin,
    "q198_cross_source_dups" ->
      s"""WITH aug AS (SELECT source, text FROM documents
         |  UNION ALL SELECT 'mirror', text FROM documents WHERE doc_id % 7 = 0),
         |h AS (SELECT DISTINCT source, (${hash60Sql("text")}) AS hh FROM aug)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  count(*) AS n_shared
         |FROM h a JOIN h b ON a.hh = b.hh AND a.source < b.source
         |GROUP BY a.source, b.source""".stripMargin,
    "q199_langid_eval" ->
      s"""WITH $langPredCtesSql,
         |conf AS (SELECT lang AS lab, lang_pred AS pred, count(*) AS n
         |  FROM lpred GROUP BY lab, pred),
         |cls AS (SELECT lab AS lang FROM conf
         |        UNION SELECT pred FROM conf),
         |tn AS (SELECT lab AS lang, CAST(sum(n) AS BIGINT) AS nt
         |  FROM conf GROUP BY lab),
         |pn AS (SELECT pred AS lang, CAST(sum(n) AS BIGINT) AS np
         |  FROM conf GROUP BY pred),
         |ht AS (SELECT lab AS lang, CAST(n AS BIGINT) AS nc FROM conf
         |  WHERE lab = pred)
         |SELECT c.lang, coalesce(nt, 0) AS n_true, coalesce(np, 0) AS n_pred,
         |  coalesce(nc, 0) AS n_correct,
         |  CASE WHEN coalesce(np, 0) > 0
         |    THEN round(CAST(coalesce(nc, 0) AS DOUBLE) / np, 6)
         |    ELSE 0e0 END AS "precision",
         |  CASE WHEN coalesce(nt, 0) > 0
         |    THEN round(CAST(coalesce(nc, 0) AS DOUBLE) / nt, 6)
         |    ELSE 0e0 END AS recall,
         |  CASE WHEN coalesce(nt, 0) + coalesce(np, 0) > 0
         |    THEN round((2e0) * CAST(coalesce(nc, 0) AS DOUBLE)
         |      / (coalesce(nt, 0) + coalesce(np, 0)), 6)
         |    ELSE 0e0 END AS f1
         |FROM cls c LEFT JOIN tn USING (lang) LEFT JOIN pn USING (lang)
         |  LEFT JOIN ht USING (lang)""".stripMargin,
    "q200_curation_funnel" ->
      s"""WITH RECURSIVE $langPredCtesSql,
         |lk AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN lpred p ON d.doc_id = p.doc_id AND p.lang_pred <> 'und'),
         |nrm AS (SELECT doc_id,
         |    trim(regexp_replace(
         |      regexp_replace(lower(text), '[.,!?;:''"()\\[\\]{}]', '', 'g'),
         |      '\\s+', ' ', 'g')) AS norm
         |  FROM lk),
         |ex AS (SELECT doc_id FROM nrm
         |  WHERE doc_id IN (SELECT min(doc_id) FROM nrm GROUP BY norm)),
         |${jaccardPairCtesSql(2, 0.8)},
         |jpf AS (SELECT id_a, id_b FROM jp
         |  WHERE id_a IN (SELECT doc_id FROM ex)
         |    AND id_b IN (SELECT doc_id FROM ex)),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jpf
         |          UNION ALL SELECT id_b, id_a FROM jpf),
         |reach(src, dst) AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
         |  FROM reach GROUP BY src),
         |nu AS (SELECT e.doc_id FROM ex e LEFT JOIN cl ON e.doc_id = cl.doc_id
         |  WHERE cl.rep IS NULL OR cl.rep = e.doc_id),
         |rawn AS (SELECT count(*) AS n FROM documents),
         |stages AS (
         |  SELECT 0 AS stage_no, 'raw' AS stage,
         |    (SELECT n FROM rawn) AS n_docs
         |  UNION ALL SELECT 1, 'lang_known', (SELECT count(*) FROM lk)
         |  UNION ALL SELECT 2, 'exact_unique', (SELECT count(*) FROM ex)
         |  UNION ALL SELECT 3, 'near_unique', (SELECT count(*) FROM nu))
         |SELECT stage_no, stage, n_docs,
         |  CAST(1000000 * n_docs // (SELECT n FROM rawn) AS BIGINT)
         |    AS retained_ppm
         |FROM stages""".stripMargin,
    "q201_mutual_knn_census" -> mutualKnnCensusOracleSql,
    // tier-equivalence (the q37/q77 discipline): all cells probed =
    // complete candidates = the exact tier's census
    "q210_mutual_knn_ivf" -> mutualKnnCensusOracleSql,
    "q229_mutual_knn_graph_indexed" -> mutualKnnCensusOracleSql,
    "q230_matryoshka_recall" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        |    FROM embeddings WHERE vec_id % 101 = 0),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS ae FROM embeddings),
        |scored AS (
        |  SELECT qid, vec_id,
        |    round(list_sum(list_transform(range(1, 65), i -> ae[i] * qe[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> ae[i] * ae[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> qe[i] * qe[i])))), 6) AS sf,
        |    round(list_sum(list_transform(range(1, 17), i -> ae[i] * qe[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 17), i -> ae[i] * ae[i])))
        |         * sqrt(list_sum(list_transform(range(1, 17), i -> qe[i] * qe[i])))), 6) AS sp
        |  FROM v, q WHERE v.vec_id <> qid),
        |r AS (SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY sf DESC, vec_id) AS rf,
        |    row_number() OVER (PARTITION BY qid ORDER BY sp DESC, vec_id) AS rp
        |  FROM scored)
        |SELECT qid AS query_id,
        |  CAST(count(*) FILTER (WHERE rp <= 10) AS INTEGER) AS n_overlap,
        |  10 AS k,
        |  round(CAST(count(*) FILTER (WHERE rp <= 10) AS DOUBLE) / 10.0, 6) AS recall_at_k
        |FROM r WHERE rf <= 10 GROUP BY qid""".stripMargin,
    "q231_quality_calibration" ->
      s"""WITH f AS ($qualityFeaturesSql),
         |s AS (SELECT doc_id,
         |    round(1.0 / (1.0 + exp(-(-2.0 + 0.45 * ln(1.0 + n_tokens)
         |      + 3.0 * stopword_ratio + 0.15 * mean_token_len
         |      - 8.0 * punct_ratio))), 6) AS p
         |  FROM f),
         |j AS (SELECT s.doc_id, p, CAST(d.lang = 'en' AS INTEGER) AS y
         |  FROM s JOIN documents d ON s.doc_id = d.doc_id),
         |g AS (SELECT LEAST(CAST(floor(p * 10) AS INTEGER), 9) AS bucket,
         |    count(*) AS n_docs, round(avg(p), 6) AS mean_prob,
         |    round(avg(CAST(y AS DOUBLE)), 6) AS pos_rate
         |  FROM j GROUP BY 1)
         |SELECT bucket, n_docs, mean_prob, pos_rate,
         |  round(abs(mean_prob - pos_rate), 6) AS calib_gap
         |FROM g""".stripMargin,
    "q246_kcore_customers" ->
      s"""WITH cp AS MATERIALIZED (SELECT DISTINCT
         |    'c:' || o_custkey AS a, 'p:' || l_partkey AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e0 AS MATERIALIZED (SELECT a, b FROM cp
         |  UNION SELECT b, a FROM cp),
         |${graft.ops.Graph.kCoreOracleSql("e0", k = 16, rounds = 6)}"""
        .stripMargin,
    "q247_event_hits" ->
      s"""WITH lagd AS (SELECT event_type AS dst,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM events),
         |edges AS (SELECT src, dst, count(*) AS w FROM lagd
         |  WHERE src IS NOT NULL GROUP BY src, dst),
         |${graft.ops.Graph.hitsOracleSql("edges", 10)}""".stripMargin,
    "q244_ranksum_pairs" ->
      """WITH c AS (SELECT source AS g, n_chars AS v,
        |    CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY g, v),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY g),
        |pr AS (SELECT a.g AS source_a, b.g AS source_b, a.n AS na,
        |    b.n AS nb
        |  FROM tot a JOIN tot b ON a.g < b.g),
        |va AS (SELECT source_a, source_b, v, c AS ca FROM pr
        |  JOIN c ON c.g = pr.source_a),
        |vb AS (SELECT source_a, source_b, v, c AS cb FROM pr
        |  JOIN c ON c.g = pr.source_b),
        |mg AS (SELECT coalesce(va.source_a, vb.source_a) AS source_a,
        |    coalesce(va.source_b, vb.source_b) AS source_b,
        |    coalesce(va.v, vb.v) AS v,
        |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM va FULL OUTER JOIN vb ON va.source_a = vb.source_a
        |    AND va.source_b = vb.source_b AND va.v = vb.v),
        |cum AS (SELECT source_a, source_b, ca, cb,
        |    sum(cb) OVER (PARTITION BY source_a, source_b ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cumb
        |  FROM mg),
        |d AS (SELECT c2.source_a, c2.source_b, na, nb,
        |    ca * (2 * cumb - cb) AS t
        |  FROM cum c2 JOIN pr ON c2.source_a = pr.source_a
        |    AND c2.source_b = pr.source_b)
        |SELECT source_a, source_b, na AS n_a, nb AS n_b,
        |  CAST(sum(t) AS BIGINT) AS u2,
        |  CAST(1000000 * sum(t) // (2 * na * nb) AS BIGINT) AS auc_ppm
        |FROM d GROUP BY source_a, source_b, na, nb""".stripMargin,
    "q245_psi_drift" ->
      """WITH e AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |sp AS (SELECT max(day) - 3 AS s FROM e),
        |b AS (SELECT g, v, day < s AS r FROM e CROSS JOIN sp),
        |ed AS (SELECT g, min(v) AS lo, max(v) AS hi FROM b WHERE r
        |  GROUP BY g),
        |bn AS (SELECT b.g, r,
        |    CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
        |         ELSE (least(greatest(v, lo), hi) - lo) * 10
        |              // (hi - lo + 1)
        |    END AS bin
        |  FROM b JOIN ed ON b.g = ed.g),
        |c AS (SELECT g, bin,
        |    CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS BIGINT) AS cc
        |  FROM bn GROUP BY g, bin),
        |t AS (SELECT g, CAST(sum(cr) AS BIGINT) AS nr,
        |    CAST(sum(cc) AS BIGINT) AS nc FROM c GROUP BY g),
        |f AS (SELECT t.g, nr, nc, gs.bin,
        |    coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
        |  FROM t CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) gs
        |  LEFT JOIN c ON c.g = t.g AND c.bin = gs.bin),
        |n AS (SELECT g, nr, nc,
        |    CAST(round((CAST(cc + 1 AS DOUBLE) / (nc + 10)
        |        - CAST(cr + 1 AS DOUBLE) / (nr + 10))
        |      * ln((CAST(cc + 1 AS DOUBLE) / (nc + 10))
        |          / (CAST(cr + 1 AS DOUBLE) / (nr + 10)))
        |      * 1e9) AS BIGINT) AS nano
        |  FROM f)
        |SELECT g AS event_type, nr AS n_ref, nc AS n_cur,
        |  round(CAST(sum(nano) AS BIGINT) / 1e9, 6) AS psi
        |FROM n GROUP BY g, nr, nc""".stripMargin,
    "q252_complement_packing" ->
      s"""WITH RECURSIVE
         |$complementTraceCtesSql
         |SELECT la AS len_a, lb AS len_b, k AS n_packs,
         |  la + coalesce(lb, 0) AS fill_tokens,
         |  round(CAST(la + coalesce(lb, 0) AS DOUBLE) / 256, 6)
         |    AS fill_ratio
         |FROM rec WHERE la IS NOT NULL""".stripMargin,
    "q257_source_coverage" -> greedyCoverageOracleSql(3, 5),
    "q270_packing_efficiency" ->
      s"""WITH RECURSIVE
         |$complementTraceCtesSql,
         |st AS (SELECT
         |    CAST(sum((la + coalesce(lb, 0)) * k) AS BIGINT)
         |      AS total_tokens,
         |    CAST(sum(k) AS BIGINT) AS n_packs,
         |    CAST(sum(CASE WHEN lb IS NULL THEN k ELSE 0 END) AS BIGINT)
         |      AS n_solo_packs,
         |    CAST(sum((256 - (la + coalesce(lb, 0))) * k) AS BIGINT)
         |      AS waste_tokens
         |  FROM rec WHERE la IS NOT NULL)
         |SELECT total_tokens,
         |  CAST((total_tokens + 255) // 256 AS BIGINT) AS concat_windows,
         |  n_packs, n_solo_packs, waste_tokens,
         |  CAST(1000000 * waste_tokens // (n_packs * 256) AS BIGINT)
         |    AS waste_ppm
         |FROM st""".stripMargin,
    "q271_image_decode_resize" ->
      // replays the synthetic RGB pattern (Multimodal.synthChannel) and
      // the integer nearest-neighbor resample closed-form — the Spark
      // side actually ENCODES/DECODES real PNGs through javax.imageio,
      // so a match proves the codec round-trip is lossless end-to-end
      """WITH m AS (SELECT doc_id AS id,
        |    CAST(doc_id % 13 + 4 AS INTEGER) AS w,
        |    CAST(doc_id % 11 + 4 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |p AS (SELECT id, w, h,
        |    greatest(CAST(floor(w * (9e0 / CAST(greatest(w, h) AS DOUBLE)))
        |      AS INTEGER), 1) AS tw,
        |    greatest(CAST(floor(h * (9e0 / CAST(greatest(w, h) AS DOUBLE)))
        |      AS INTEGER), 1) AS th
        |  FROM m WHERE greatest(w, h) > 9),
        |gx AS (SELECT p.*, unnest(range(tw)) AS tx FROM p),
        |px AS (SELECT gx.*, unnest(range(th)) AS ty FROM gx),
        |c AS (SELECT id, w, h, tw, th, tx, ty,
        |    (tx * w) // tw AS sx, (ty * h) // th AS sy
        |  FROM px),
        |v AS (SELECT id, w, h, tw, th,
        |    (id * 7 + sx * 31 + sy * 17) % 256 AS r,
        |    (id * 3 + sx * 13 + sy * 29) % 256 AS g,
        |    (id * 11 + sx * 23 + sy * 19) % 256 AS b,
        |    1 + tx + tw * ty AS wt
        |  FROM c),
        |a AS (SELECT id, w, h, tw, th,
        |    CAST(sum(r) AS BIGINT) AS rs, CAST(sum(g) AS BIGINT) AS gs,
        |    CAST(sum(b) AS BIGINT) AS bs,
        |    CAST(sum((r + 256 * g + 65536 * b) * wt) AS BIGINT)
        |      AS pixel_checksum
        |  FROM v GROUP BY id, w, h, tw, th)
        |SELECT id AS media_id, w AS src_width, h AS src_height,
        |  CAST(tw AS INTEGER) AS target_width,
        |  CAST(th AS INTEGER) AS target_height,
        |  round(CAST(rs AS DOUBLE) / (tw * th), 6) AS r_mean,
        |  round(CAST(gs AS DOUBLE) / (tw * th), 6) AS g_mean,
        |  round(CAST(bs AS DOUBLE) / (tw * th), 6) AS b_mean,
        |  pixel_checksum
        |FROM a""".stripMargin,
    "q273_image_ahash" ->
      // replays the synthetic pattern + 8×8 resample + integer grayscale
      // + exact mean threshold; a match proves the Spark side's REAL
      // PNG decode reproduces the encoded pixels bit-for-bit
      s"""WITH ${ahashCtesSql("doc_id", "documents WHERE doc_id % 3 = 0")}
         |SELECT id AS media_id, w AS width, h AS height,
         |  ahash_hi, ahash_lo
         |FROM ah""".stripMargin,
    "q274_perceptual_dup_groups" ->
      // hash per DISTINCT pattern (pid = doc_id % 10), joined back to
      // the image rows, grouped by the two hash lanes exactly like the
      // Spark side (two colliding patterns would merge on both sides)
      s"""WITH imgs AS (SELECT doc_id, doc_id % 10 AS pid
         |  FROM documents WHERE doc_id % 3 = 0),
         |pats AS (SELECT DISTINCT pid FROM imgs),
         |${ahashCtesSql("pid", "pats")}
         |SELECT ahash_hi, ahash_lo,
         |  CAST(count(*) AS BIGINT) AS n_copies,
         |  min(doc_id) AS rep_id
         |FROM imgs JOIN ah ON imgs.pid = ah.id
         |GROUP BY ahash_hi, ahash_lo
         |HAVING count(*) >= 2""".stripMargin,
    "q275_audio_features" ->
      // replays the PCM test signal closed form; a match proves the
      // Spark side's javax.sound WAV encode/decode round-trips every
      // 16-bit sample (and reads the rate from the real RIFF header)
      """WITH m AS (SELECT doc_id AS id, doc_id % 50 + 20 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |sm AS (SELECT id, n, unnest(range(n)) AS i FROM m),
        |v AS (SELECT id, n, i,
        |    (id * 31 + i * 17) % 2001 - 1000 AS s
        |  FROM sm),
        |w AS (SELECT id, n, s,
        |    lag(s) OVER (PARTITION BY id ORDER BY i) AS sp
        |  FROM v)
        |SELECT id AS media_id,
        |  CAST(16000 AS INTEGER) AS sample_rate,
        |  CAST(max(n) AS BIGINT) AS n_samples,
        |  CAST(max(abs(s)) AS INTEGER) AS peak_abs,
        |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
        |  CAST(sum(CASE WHEN sp * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_crossings
        |FROM w GROUP BY id""".stripMargin,
    "q281_copurchase_partners" ->
      """WITH b AS (SELECT DISTINCT o_custkey AS k, l_partkey AS i
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cap AS (SELECT k, i FROM (
        |    SELECT k, i, row_number() OVER (PARTITION BY k ORDER BY i)
        |      AS rn FROM b)
        |  WHERE rn <= 20),
        |p AS (SELECT a.i AS item_a, bb.i AS item_b,
        |    CAST(count(*) AS BIGINT) AS n_keys
        |  FROM cap a JOIN cap bb ON a.k = bb.k AND a.i < bb.i
        |  GROUP BY a.i, bb.i),
        |sym AS (SELECT item_a AS part, item_b AS partner, n_keys FROM p
        |  UNION ALL SELECT item_b, item_a, n_keys FROM p),
        |r AS (SELECT part, partner, n_keys,
        |    row_number() OVER (PARTITION BY part
        |      ORDER BY n_keys DESC, partner) AS rn
        |  FROM sym)
        |SELECT part, partner, n_keys FROM r WHERE rn <= 3""".stripMargin,
    "q282_decode_census" ->
      // the corruption rule is id-deterministic (every 5th blob), so the
      // quarantine census is pure arithmetic over documents; error TEXT
      // is JVM-specific and deliberately outside the oracle contract
      """SELECT 'image' AS modality, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_decoded,
        |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quarantined
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT 'audio', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END) AS BIGINT),
        |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents WHERE doc_id % 3 = 1""".stripMargin,
    "q283_jpeg_geometry" ->
      // JPEG pixels are lossy (never oracle'd); geometry and "every blob
      // decodes" are exact — a row-count mismatch means a quarantine row
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 13 + 4 AS INTEGER) AS width,
        |  CAST(doc_id % 11 + 4 AS INTEGER) AS height
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,
    "q290_video_scene_cuts" ->
      // the synth writes n = id%10+4 frames in scenes of 3 (frame k's
      // pattern id is id·1000 + k//3, one JPEG per scene reused for its
      // frames), so over DECODED pixels the cut count has a closed form:
      // boundaries at k % 3 = 0, k ≥ 1 → ceil(n/3) − 1. A detector that
      // missed a boundary (or hallucinated one inside a scene) breaks
      // the row hash — this oracles the decode+detect path end to end
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 10 + 4 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 10 + 4 + 2) // 3 - 1 AS BIGINT) AS n_cuts
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    "q291_video_decode_census" ->
      // the corruption rule is id-deterministic (every 5th blob), so the
      // per-video quarantine census is pure arithmetic over documents
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_decoded,
        |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quarantined
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    "q292_video_dup_groups" ->
      // with patternMod=10 two videos share bytes iff doc_id % 10 is
      // equal; geometry/frames collapse to the pattern id (pid < 10 ⇒
      // both mods no-op), so the dup groups are pure id arithmetic —
      // the DECODED fingerprint's group structure must reproduce it
      """SELECT min(doc_id) AS rep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(min(doc_id) % 10 + 4 AS BIGINT) AS n_frames
        |FROM documents WHERE doc_id % 3 = 2
        |GROUP BY doc_id % 10 HAVING count(*) >= 2""".stripMargin,
    "q293_video_meta_audit" ->
      // liars are id-deterministic: every 7th video declares 250·n+1000
      // ms; honest declarations (250·n) imply exactly n frames at fps=4
      """SELECT doc_id AS media_id,
        |  CAST((doc_id % 10 + 4) * 250 + 1000 AS BIGINT)
        |    AS declared_duration_ms,
        |  CAST(doc_id % 10 + 4 AS BIGINT) AS n_frames
        |FROM documents WHERE doc_id % 3 = 2 AND doc_id % 7 = 0""".stripMargin,
    "q294_video_frame_sample" ->
      // n = id%10+4 frames; every 2nd decodes → ceil(n/2) sampled, the
      // last sampled index is 2·((n−1)//2)
      """SELECT doc_id AS media_id,
        |  CAST((doc_id % 10 + 4 + 1) // 2 AS BIGINT) AS n_sampled,
        |  CAST(2 * ((doc_id % 10 + 4 - 1) // 2) AS BIGINT) AS last_frame
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    "q298_image_neardup_pairs" -> {
      val ham = "bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))"
      s"""WITH imgs AS (SELECT doc_id, doc_id % 5 AS pid
         |  FROM documents WHERE doc_id % 3 = 0),
         |pats AS (SELECT DISTINCT pid FROM imgs),
         |${ahashCtesSql("pid", "pats")},
         |ih AS (SELECT doc_id, ah.ahash_hi AS hi, ah.ahash_lo AS lo
         |  FROM imgs JOIN ah ON imgs.pid = ah.id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM ih a JOIN ih b ON a.doc_id < b.doc_id
         |WHERE $ham <= 3""".stripMargin
    },
    "q299_reference_lm_filter" ->
      // add-one-smoothed reference LM: denom = T + V + 1 off the
      // reference counts; unseen target tokens coalesce to cnt 0 (the
      // unknown slot). DuckDB's per-occurrence avg vs Spark's
      // tf-weighted sum differ only by reassociation (~1e-13), absorbed
      // by the shared 6-decimal rounding (the q96 discipline)
      s"""WITH ref AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |tgt AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
         |rt AS (SELECT unnest($toksSql) AS token FROM ref),
         |counts AS (SELECT token, count(*) AS cnt FROM rt GROUP BY token),
         |denom AS (SELECT CAST(sum(cnt) + count(*) + 1 AS DOUBLE) AS dn
         |  FROM counts),
         |tt AS (SELECT doc_id, unnest($toksSql) AS token FROM tgt)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS oov_tokens,
         |  round(ln(dn) - avg(ln(CAST(coalesce(cnt, 0) + 1 AS DOUBLE))), 6)
         |    AS ref_cross_entropy
         |FROM tt LEFT JOIN counts USING (token) CROSS JOIN denom
         |GROUP BY doc_id, dn""".stripMargin,
    "q300_perceptron_train" -> perceptronOracleSql(6),
    "q301_preference_leaderboard" ->
      // l_quantity values are small integers in doubles, so sums and
      // compares are exact in both engines; // is DuckDB's integer DIV
      // (non-negative operands, identical to Spark's DIV)
      """WITH it AS (SELECT l_orderkey AS ok, l_partkey AS pk,
        |    sum(l_quantity) AS q FROM lineitem GROUP BY 1, 2),
        |cmp AS (SELECT
        |    CASE WHEN a.q > b.q THEN a.pk ELSE b.pk END AS winner,
        |    CASE WHEN a.q > b.q THEN b.pk ELSE a.pk END AS loser
        |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
        |  WHERE a.q <> b.q),
        |m AS (SELECT least(winner, loser) AS ia, greatest(winner, loser) AS ib,
        |    CAST(sum(CASE WHEN winner <= loser THEN 1 ELSE 0 END) AS BIGINT) AS wa,
        |    CAST(sum(CASE WHEN winner > loser THEN 1 ELSE 0 END) AS BIGINT) AS wb
        |  FROM cmp GROUP BY 1, 2),
        |sides AS (SELECT ia AS item, wa AS w, wb AS l FROM m
        |  UNION ALL SELECT ib, wb, wa FROM m)
        |SELECT item, count(*) AS n_matchups,
        |  CAST(sum(w + l) AS BIGINT) AS n_games,
        |  CAST(sum(w) AS BIGINT) AS n_wins,
        |  CAST(sum(CASE WHEN w > l THEN 1 WHEN w < l THEN -1 ELSE 0 END)
        |    AS BIGINT) AS copeland,
        |  1000000 * CAST(sum(w) AS BIGINT) // CAST(sum(w + l) AS BIGINT)
        |    AS win_ppm
        |FROM sides GROUP BY item""".stripMargin,
    "q302_k_anonymity" ->
      """WITH g AS (SELECT lang, source, n_chars // 100 AS lb,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM documents GROUP BY 1, 2, 3),
        |t AS (SELECT unnest([2, 5, 10, 25]) AS k_threshold)
        |SELECT k_threshold, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN k < k_threshold THEN 1 ELSE 0 END) AS BIGINT)
        |    AS violating_groups,
        |  CAST(sum(k) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN k < k_threshold THEN k ELSE 0 END) AS BIGINT)
        |    AS violating_rows,
        |  1000000 * CAST(sum(CASE WHEN k < k_threshold THEN k ELSE 0 END)
        |    AS BIGINT) // CAST(sum(k) AS BIGINT) AS suppression_ppm
        |FROM g CROSS JOIN t GROUP BY k_threshold""".stripMargin,
    "q303_generalization_ladder" ->
      // levels reaggregate from the finest groups ((n DIV w) DIV 2^l =
      // n DIV (w·2^l) for n ≥ 0); chosen = min level with 0 violating
      // rows, fallback coarsest
      """WITH g0 AS (SELECT lang, source, n_chars // 100 AS b0,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM documents GROUP BY 1, 2, 3),
        |lf AS (SELECT unnest([0, 1, 2, 3, 4]) AS level),
        |gl AS (SELECT level, lang, source, b0 // (1 << level) AS b,
        |    CAST(sum(k) AS BIGINT) AS k
        |  FROM g0 CROSS JOIN lf GROUP BY 1, 2, 3, 4),
        |pl AS (SELECT level, count(*) AS n_groups,
        |    CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS violating_groups,
        |    CAST(sum(k) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        |      AS violating_rows
        |  FROM gl GROUP BY level),
        |ch AS (SELECT coalesce(min(CASE WHEN violating_rows = 0
        |    THEN level END), 4) AS chosen_level FROM pl)
        |SELECT level, CAST(100 * (1 << level) AS BIGINT) AS bucket_width,
        |  n_groups, violating_groups, violating_rows,
        |  1000000 * violating_rows // n_rows AS suppression_ppm,
        |  CAST(level = chosen_level AS INTEGER) AS chosen
        |FROM pl CROSS JOIN ch""".stripMargin,
    "q304_windowed_ppmi" ->
      // marginal product in DOUBLE (both engines — int64 would overflow
      // at crawl-scale marginals); PPMI rounded before the rank
      s"""WITH toks AS (SELECT $toksSql AS t FROM documents),
         |p AS (SELECT least(t[CAST(i AS INT)], t[CAST(j AS INT)]) AS a,
         |    greatest(t[CAST(i AS INT)], t[CAST(j AS INT)]) AS b
         |  FROM (SELECT t, i,
         |      unnest(range(i + 1, least(i + 4, len(t)) + 1)) AS j
         |    FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks) x) y),
         |c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_cooc
         |  FROM p GROUP BY 1, 2 HAVING count(*) >= 5),
         |m AS (SELECT w, CAST(count(*) AS BIGINT) AS m FROM
         |    (SELECT a AS w FROM p UNION ALL SELECT b FROM p) u GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM p),
         |sc AS (SELECT c.a, c.b, c.n_cooc,
         |    greatest(0.0, round(ln(c.n_cooc * nn.n /
         |      (CAST(ma.m AS DOUBLE) * mb.m)), 6)) AS ppmi
         |  FROM c JOIN m ma ON ma.w = c.a JOIN m mb ON mb.w = c.b
         |  CROSS JOIN nn),
         |sides AS (SELECT a AS word, b AS collocate, n_cooc, ppmi FROM sc
         |  UNION ALL SELECT b, a, n_cooc, ppmi FROM sc)
         |SELECT word, collocate, n_cooc, ppmi FROM (
         |  SELECT word, collocate, n_cooc, ppmi, row_number() OVER (
         |    PARTITION BY word ORDER BY ppmi DESC, collocate) AS rn
         |  FROM sides) r WHERE rn <= 5""".stripMargin,
    "q305_bitext_mining" ->
      // round-before-rank for the cosine; after that EXACT int64
      // micro-unit arithmetic (a float neighborhood average re-rounds
      // at the 6th digit on sum order — observed), so the margin is a
      // quotient of identical integers in both engines
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |xa AS (SELECT vec_id AS a_id, e FROM v WHERE vec_id % 2 = 0),
         |yb AS (SELECT vec_id AS b_id, e FROM v WHERE vec_id % 2 = 1),
         |s AS (SELECT a_id, b_id, sim,
         |    CAST(round(sim * 1e6) AS BIGINT) AS simm FROM (
         |  SELECT a_id, b_id,
         |    round(${cosSql("xa.e", "yb.e")}, 6) AS sim FROM xa, yb) s0),
         |ka AS (SELECT a_id, b_id, sim, simm FROM (SELECT a_id, b_id, sim,
         |    simm,
         |    row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id)
         |      AS rn FROM s) t WHERE rn <= 4),
         |kb AS (SELECT a_id, b_id, sim, simm FROM (SELECT a_id, b_id, sim,
         |    simm,
         |    row_number() OVER (PARTITION BY b_id ORDER BY sim DESC, a_id)
         |      AS rn FROM s) t WHERE rn <= 4),
         |ax AS (SELECT a_id, CAST(sum(simm) AS BIGINT) AS sa,
         |    CAST(count(*) AS BIGINT) AS na FROM ka GROUP BY 1),
         |byy AS (SELECT b_id, CAST(sum(simm) AS BIGINT) AS sb,
         |    CAST(count(*) AS BIGINT) AS nb FROM kb GROUP BY 1),
         |mg AS (SELECT ka.a_id, ka.b_id, ka.sim,
         |    round(CAST(2 * ka.simm * na * nb AS DOUBLE) /
         |      CAST(sa * nb + sb * na AS DOUBLE), 6) AS margin
         |  FROM ka JOIN ax USING (a_id) JOIN byy USING (b_id)),
         |ba AS (SELECT a_id, b_id, sim, margin FROM (SELECT a_id, b_id,
         |    sim, margin, row_number() OVER (PARTITION BY a_id
         |      ORDER BY margin DESC, b_id) AS rn FROM mg) t WHERE rn = 1),
         |bb AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
         |    row_number() OVER (PARTITION BY b_id
         |      ORDER BY margin DESC, a_id) AS rn FROM mg) t WHERE rn = 1)
         |SELECT ba.a_id, ba.b_id, ba.sim AS cosine_sim, ba.margin
         |FROM ba JOIN bb USING (a_id, b_id) WHERE ba.margin >= 1.0"""
        .stripMargin,
    "q306_multimodal_packing" ->
      // the q233 prefix-sum window arithmetic with the image patch cost
      // folded in (doc_id%3==0 ⇒ one 64-token image at the doc START);
      // per-window attribution by exact integer interval overlap
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\f\r]+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 64 ELSE 0 END AS BIGINT) AS img
        |  FROM documents),
        |c AS (SELECT doc_id, n + img AS eff, img,
        |    CAST(sum(n + img) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - (n + img) AS st
        |  FROM t),
        |e AS (SELECT st, eff, img,
        |    unnest(range(st // 256, (st + eff - 1) // 256 + 1)) AS seq_id
        |  FROM c WHERE eff > 0),
        |o AS (SELECT seq_id,
        |    least((seq_id + 1) * 256, st + eff) - greatest(seq_id * 256, st)
        |      AS tok_here,
        |    greatest(0, least((seq_id + 1) * 256, st + img)
        |      - greatest(seq_id * 256, st)) AS img_here
        |  FROM e)
        |SELECT seq_id, count(*) AS n_docs,
        |  CAST(sum(tok_here) AS BIGINT) AS fill_tokens,
        |  CAST(sum(img_here) AS BIGINT) AS image_tokens,
        |  CAST(sum(tok_here) - sum(img_here) AS BIGINT) AS text_tokens,
        |  CAST(sum(CASE WHEN img_here > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with_image_tokens,
        |  1000000 * CAST(sum(img_here) AS BIGINT)
        |    // CAST(sum(tok_here) AS BIGINT) AS image_share_ppm
        |FROM o GROUP BY seq_id""".stripMargin,
    "q307_l_diversity" ->
      """WITH cells AS (SELECT source, n_chars // 200 AS len_bucket, lang,
        |    CAST(count(*) AS BIGINT) AS n_gv
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2, 3),
        |g AS (SELECT source, len_bucket, CAST(count(*) AS BIGINT) AS l,
        |    CAST(sum(n_gv) AS BIGINT) AS k FROM cells GROUP BY 1, 2),
        |t AS (SELECT unnest([2, 3, 5]) AS l_threshold)
        |SELECT l_threshold, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN l < l_threshold THEN 1 ELSE 0 END) AS BIGINT)
        |    AS violating_groups,
        |  CAST(sum(k) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l < l_threshold THEN k ELSE 0 END) AS BIGINT)
        |    AS violating_rows,
        |  1000000 * CAST(sum(CASE WHEN l < l_threshold THEN k ELSE 0 END)
        |    AS BIGINT) // CAST(sum(k) AS BIGINT) AS suppression_ppm
        |FROM g CROSS JOIN t GROUP BY 1""".stripMargin,
    "q308_t_closeness" ->
      // exact TV distance over the common denominator n_g·N — HUGEINT
      // products mirror the Spark side's decimal(38,0) envelope
      """WITH cells AS (SELECT source, n_chars // 200 AS len_bucket, lang,
        |    CAST(count(*) AS HUGEINT) AS n_gv
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2, 3),
        |gv AS (SELECT lang, CAST(sum(n_gv) AS HUGEINT) AS n_v
        |  FROM cells GROUP BY 1),
        |gt AS (SELECT source, len_bucket, CAST(sum(n_gv) AS HUGEINT) AS n_g
        |  FROM cells GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n_v) AS HUGEINT) AS n FROM gv),
        |pg AS (SELECT c.source, c.len_bucket, max(g.n_g) AS n_g,
        |    max(tot.n) AS n,
        |    sum(abs(c.n_gv * tot.n - v.n_v * g.n_g)) AS s1,
        |    sum(v.n_v) AS sv
        |  FROM cells c JOIN gv v USING (lang)
        |  JOIN gt g ON g.source = c.source AND g.len_bucket = c.len_bucket
        |  CROSS JOIN tot GROUP BY 1, 2),
        |tv AS (SELECT CAST(n_g AS BIGINT) AS k,
        |    CAST((1000000 * (s1 + (n - sv) * n_g)) // (2 * n_g * n)
        |      AS BIGINT) AS tv_ppm FROM pg),
        |th AS (SELECT unnest([100000, 250000, 500000]) AS t_ppm_threshold)
        |SELECT t_ppm_threshold, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN tv_ppm > t_ppm_threshold THEN 1 ELSE 0 END)
        |    AS BIGINT) AS violating_groups,
        |  CAST(sum(k) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN tv_ppm > t_ppm_threshold THEN k ELSE 0 END)
        |    AS BIGINT) AS violating_rows,
        |  CAST(max(tv_ppm) AS BIGINT) AS max_tv_ppm
        |FROM tv CROSS JOIN th GROUP BY 1""".stripMargin,
    "q309_blocklist_census" -> blocklistOracleSql,
    "q310_blocklist_ac" -> blocklistOracleSql, // tier-equivalence (AC)
    "q311_integer_kmeans" -> integerKMeansOracleSql(k = 4, rounds = 3,
      dims = 64),
    "q313_kcenter_coreset" -> kCenterOracleSql(k = 6, poolPercent = 20,
      dims = 64),
    "q314_image_phash" ->
      // replays the synthetic pattern + 8×8 resample + integer grayscale
      // + exact integer DCT against the shared hardcoded cosine table +
      // strict lower-median AC threshold; a match proves the Spark
      // side's REAL PNG decode feeds the exact transform bit-for-bit
      s"""WITH ${phashCtesSql("doc_id", "documents WHERE doc_id % 3 = 0")}
         |SELECT id AS media_id, w AS width, h AS height,
         |  phash_hi, phash_lo
         |FROM ph""".stripMargin,
    "q315_phash_neardup_pairs" -> {
      // banded probe equals the plain all-pairs Hamming filter
      // (pigeonhole, maxDist 3 < 4 bands) — the oracle skips the bands
      // and replays hashes per DISTINCT pattern (pid = doc_id % 5)
      val ham = "bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))"
      s"""WITH imgs AS (SELECT doc_id, doc_id % 5 AS pid
         |  FROM documents WHERE doc_id % 3 = 0),
         |pats AS (SELECT DISTINCT pid FROM imgs),
         |${phashCtesSql("pid", "pats")},
         |ih AS (SELECT doc_id, ph.phash_hi AS hi, ph.phash_lo AS lo
         |  FROM imgs JOIN ph ON imgs.pid = ph.id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM ih a JOIN ih b ON a.doc_id < b.doc_id
         |WHERE $ham <= 3""".stripMargin
    },
    "q316_bradley_terry" -> {
      // every MM round unrolled: per-term (n·1e9) // (w_i + w_j) then
      // sum (order-independent), strengths renormalized to max = 1e6 —
      // all non-negative int64, so // ≡ Spark's DIV bit-for-bit
      val roundCtes = (1 to 3).map { i =>
        s"""bd$i AS (SELECT sd.item,
           |    CAST(sum((sd.n * 1000000000) // greatest(wi.w + wj.w, 1))
           |      AS BIGINT) AS d
           |  FROM btsides sd JOIN bs${i - 1} wi ON sd.item = wi.item
           |    JOIN bs${i - 1} wj ON sd.opp = wj.item
           |  GROUP BY sd.item),
           |br$i AS (SELECT w.item,
           |    (w.n_wins * 1000000000) // greatest(d.d, 1) AS raw
           |  FROM btwins w JOIN bd$i d ON w.item = d.item),
           |bm$i AS (SELECT max(raw) AS mx FROM br$i),
           |bs$i AS (SELECT item,
           |    CAST((raw * 1000000) // greatest(mx, 1) AS BIGINT) AS w
           |  FROM br$i, bm$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH it AS (SELECT l_orderkey AS ok, l_partkey AS pk,
         |    sum(l_quantity) AS q FROM lineitem GROUP BY 1, 2),
         |cmp AS (SELECT
         |    CASE WHEN a.q > b.q THEN a.pk ELSE b.pk END AS winner,
         |    CASE WHEN a.q > b.q THEN b.pk ELSE a.pk END AS loser
         |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
         |  WHERE a.q <> b.q),
         |bmu AS (SELECT least(winner, loser) AS ia,
         |    greatest(winner, loser) AS ib,
         |    CAST(sum(CASE WHEN winner <= loser THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wa,
         |    CAST(sum(CASE WHEN winner > loser THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wb
         |  FROM cmp GROUP BY 1, 2),
         |btsides AS (SELECT ia AS item, ib AS opp, wa + wb AS n, wa AS w
         |  FROM bmu
         |  UNION ALL SELECT ib, ia, wa + wb, wb FROM bmu),
         |btwins AS (SELECT item, CAST(sum(w) AS BIGINT) AS n_wins,
         |    CAST(sum(n) AS BIGINT) AS n_games
         |  FROM btsides GROUP BY item),
         |bs0 AS (SELECT item, CAST(1000000 AS BIGINT) AS w FROM btwins),
         |$roundCtes
         |SELECT btwins.item, bs3.w AS strength_micro, n_wins, n_games
         |FROM btwins JOIN bs3 ON btwins.item = bs3.item""".stripMargin
    },
    "q317_ppmi_power_iteration" -> {
      // q304's scored-pair chain (shared semantics, one PPMI
      // definition), then 3 unrolled integer power-iteration rounds:
      // w = round(ppmi·1e6) is exact (ppmi already 6-rounded), sums go
      // HUGEINT, renorm is // by the round max — all non-negative
      val roundCtes = (1 to 3).map { i =>
        s"""pu$i AS (SELECT e.x AS word, sum(e.w * v.s) AS u
           |  FROM ped e JOIN pv${i - 1} v ON e.y = v.word GROUP BY e.x),
           |px$i AS (SELECT max(u) AS mx FROM pu$i),
           |pv$i AS (SELECT word,
           |    CAST((u * 1000000) // greatest(mx, 1) AS BIGINT) AS s
           |  FROM pu$i, px$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH toks AS (SELECT $toksSql AS t FROM documents),
         |p AS (SELECT least(t[CAST(i AS INT)], t[CAST(j AS INT)]) AS a,
         |    greatest(t[CAST(i AS INT)], t[CAST(j AS INT)]) AS b
         |  FROM (SELECT t, i,
         |      unnest(range(i + 1, least(i + 4, len(t)) + 1)) AS j
         |    FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks) x) y),
         |c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_cooc
         |  FROM p GROUP BY 1, 2 HAVING count(*) >= 2),
         |m AS (SELECT w, CAST(count(*) AS BIGINT) AS m FROM
         |    (SELECT a AS w FROM p UNION ALL SELECT b FROM p) u GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM p),
         |sc AS (SELECT c.a, c.b, c.n_cooc,
         |    greatest(0.0, round(ln(c.n_cooc * nn.n /
         |      (CAST(ma.m AS DOUBLE) * mb.m)), 6)) AS ppmi
         |  FROM c JOIN m ma ON ma.w = c.a JOIN m mb ON mb.w = c.b
         |  CROSS JOIN nn),
         |pe AS (SELECT a, b, CAST(round(ppmi * 1000000) AS BIGINT) AS w
         |  FROM sc WHERE ppmi > 0),
         |ped AS (SELECT a AS x, b AS y, w FROM pe
         |  UNION ALL SELECT b, a, w FROM pe WHERE a <> b),
         |pv0 AS (SELECT DISTINCT x AS word, CAST(1000000 AS BIGINT) AS s
         |  FROM ped),
         |$roundCtes
         |SELECT word, s AS score_micro FROM pv3""".stripMargin
    },
    "q323_ppmi_rank2" -> {
      // direction 1 = the q317 chain verbatim; then A = u1ᵀMu1,
      // B = u1ᵀu1 and 3 deflated rounds for direction 2:
      // u = Mv − u1·TD(TD(A,B)·s, B) with s = u1ᵀv per round, where
      // TD is TRUNCATE-toward-zero division — spelled sign-split
      // because DuckDB // floors and Spark DIV truncates (they only
      // agree on non-negatives, and direction 2 goes negative)
      def td(a: String, b: String) =
        s"(CASE WHEN $a < 0 THEN -((-($a)) // ($b)) ELSE ($a) // ($b) END)"
      val d1Ctes = (1 to 3).map { i =>
        s"""pu$i AS MATERIALIZED (SELECT e.x AS word, sum(e.w * v.s) AS u
           |  FROM ped e JOIN pv${i - 1} v ON e.y = v.word GROUP BY e.x),
           |px$i AS MATERIALIZED (SELECT max(u) AS mx FROM pu$i),
           |pv$i AS MATERIALIZED (SELECT word,
           |    CAST((u * 1000000) // greatest(mx, 1) AS BIGINT) AS s
           |  FROM pu$i, px$i)""".stripMargin
      }.mkString(",\n")
      val d2Ctes = (1 to 3).map { i =>
        val c2 = td(td("pA.a", "pB.b") + s" * qs$i.sp", "pB.b")
        s"""qu$i AS MATERIALIZED (SELECT e.x AS word, sum(e.w * v.s) AS u
           |  FROM ped e JOIN qv${i - 1} v ON e.y = v.word GROUP BY e.x),
           |qs$i AS MATERIALIZED (SELECT sum(u1.s * v.s) AS sp
           |  FROM pv3 u1 JOIN qv${i - 1} v ON u1.word = v.word),
           |qd$i AS MATERIALIZED (SELECT m.word, m.u - u1.s * $c2 AS u
           |  FROM qu$i m JOIN pv3 u1 ON m.word = u1.word,
           |    pA, pB, qs$i),
           |qx$i AS MATERIALIZED (SELECT max(abs(u)) AS mx FROM qd$i),
           |qv$i AS MATERIALIZED (SELECT word,
           |    CAST(${td("u * 1000000", "greatest(mx, 1)")} AS BIGINT) AS s
           |  FROM qd$i, qx$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH toks AS MATERIALIZED (SELECT $toksSql AS t FROM documents),
         |p AS MATERIALIZED (SELECT least(t[CAST(i AS INT)], t[CAST(j AS INT)]) AS a,
         |    greatest(t[CAST(i AS INT)], t[CAST(j AS INT)]) AS b
         |  FROM (SELECT t, i,
         |      unnest(range(i + 1, least(i + 4, len(t)) + 1)) AS j
         |    FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks) x) y),
         |c AS MATERIALIZED (SELECT a, b, CAST(count(*) AS BIGINT) AS n_cooc
         |  FROM p GROUP BY 1, 2 HAVING count(*) >= 2),
         |m AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS m FROM
         |    (SELECT a AS w FROM p UNION ALL SELECT b FROM p) u GROUP BY 1),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM p),
         |sc AS MATERIALIZED (SELECT c.a, c.b, c.n_cooc,
         |    greatest(0.0, round(ln(c.n_cooc * nn.n /
         |      (CAST(ma.m AS DOUBLE) * mb.m)), 6)) AS ppmi
         |  FROM c JOIN m ma ON ma.w = c.a JOIN m mb ON mb.w = c.b
         |  CROSS JOIN nn),
         |pe AS MATERIALIZED (SELECT a, b, CAST(round(ppmi * 1000000) AS BIGINT) AS w
         |  FROM sc WHERE ppmi > 0),
         |ped AS MATERIALIZED (SELECT a AS x, b AS y, w FROM pe
         |  UNION ALL SELECT b, a, w FROM pe WHERE a <> b),
         |pv0 AS MATERIALIZED (SELECT DISTINCT x AS word, CAST(1000000 AS BIGINT) AS s
         |  FROM ped),
         |$d1Ctes,
         |pA AS MATERIALIZED (SELECT sum(CAST(e.w AS HUGEINT) * vx.s * vy.s) AS a
         |  FROM ped e JOIN pv3 vx ON e.x = vx.word
         |    JOIN pv3 vy ON e.y = vy.word),
         |pB AS MATERIALIZED (SELECT sum(s * s) AS b FROM pv3),
         |qv0 AS MATERIALIZED (SELECT word, s FROM pv0),
         |$d2Ctes
         |SELECT word, CAST(1 AS INTEGER) AS direction, s AS score_micro
         |FROM pv3
         |UNION ALL
         |SELECT word, CAST(2 AS INTEGER) AS direction, s AS score_micro
         |FROM qv3""".stripMargin
    },
    "q325_main_content" -> {
      // the identical block split + metrics in RE2: vis(b) is the
      // cleanText class chain, the link-density cut is the integer
      // spelling, and the fixture string is byte-identical
      val vis = (b: String) => "trim(regexp_replace(regexp_replace(" +
        s"$b, '<[^>]+>', ' ', 'g'), '[ \\t\\n\\f\\r]+', ' ', 'g'))"
      val linkLen = (b: String) => "coalesce(list_sum(list_transform(" +
        s"regexp_extract_all($b, '(?s)<a(?: [^>]*)?>(.*?)</a>', 1), " +
        "x -> len(x))), 0)"
      s"""WITH hf AS (SELECT doc_id,
         |    concat('<html><body><nav><a href=/>Home</a> ',
         |      '<a href=/about>About</a> <a href=/contact>Contact</a>',
         |      '</nav><h1>Doc ', CAST(doc_id AS VARCHAR), '</h1><p>',
         |      text, '</p><div><a href=/l1>Related article one</a> ',
         |      '<a href=/l2>Related article two</a></div>',
         |      '<footer>Copyright 2026 Example Corp ',
         |      '<a href=/tos>Terms of Service</a></footer>',
         |      '</body></html>') AS html FROM documents),
         |hb AS (SELECT doc_id, string_split_regex(html,
         |    '${graft.ops.Web.blockTagRe}') AS blocks FROM hf),
         |hk AS (SELECT doc_id, list_transform(list_filter(blocks,
         |    b -> len(${vis("b")}) >= 25
         |      AND 3 * ${linkLen("b")} < len(${vis("b")})),
         |    b -> ${vis("b")}) AS kept FROM hb)
         |SELECT doc_id, CAST(len(kept) AS INTEGER) AS n_blocks_kept,
         |  array_to_string(kept, ' ') AS main_content
         |FROM hk""".stripMargin
    },
    "q318_url_canonicalize" ->
      s"""WITH $urlCanonCtesSql
         |SELECT doc_id, url, canonical_url, site FROM uc""".stripMargin,
    "q319_url_dedup" ->
      s"""WITH $urlCanonCtesSql
         |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_copies,
         |  min(doc_id) AS rep_id
         |FROM uc GROUP BY canonical_url HAVING count(*) >= 2""".stripMargin,
    "q320_audio_spectral_fp" ->
      // replays the synthetic PCM closed form + Walsh square-wave band
      // correlations + adjacent-|X| delta bits; a match proves the
      // Spark side's REAL WAV decode reproduces the samples and the
      // exact-integer band fold bit-for-bit
      """WITH am AS (SELECT doc_id AS id, doc_id % 50 + 20 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |ai AS (SELECT id, n, unnest(range(n)) AS i FROM am),
        |asamp AS (SELECT id, n, i,
        |    (id * 31 + i * 17) % 2001 - 1000 AS s FROM ai),
        |ab AS (SELECT asamp.*, unnest(range(16)) AS b FROM asamp),
        |ax AS (SELECT id, n, b, CAST(sum(s *
        |      (CASE WHEN ((i * (CAST(1 AS BIGINT) << (b + 1))) // n) % 2 = 0
        |        THEN 1 ELSE -1 END)) AS BIGINT) AS x
        |  FROM ab GROUP BY id, n, b),
        |axl AS (SELECT id, n, b, abs(x) AS e,
        |    lag(abs(x)) OVER (PARTITION BY id ORDER BY b) AS ep FROM ax),
        |afp AS (SELECT id, n,
        |    CAST(sum(CASE WHEN b >= 1 AND e > ep
        |      THEN (CAST(1 AS BIGINT) << (b - 1)) ELSE 0 END) AS BIGINT)
        |      AS fp
        |  FROM axl GROUP BY id, n)
        |SELECT id AS media_id, CAST(n AS BIGINT) AS n_samples,
        |  fp AS spectral_fp
        |FROM afp""".stripMargin,
    "q322_video_neardup_robust" ->
      // the trimmed copy keeps every shingle but scene-0's within-scene
      // pair: j = (k−1)/k, k = 2(m−1) + [r≥2], m = ceil(n/3),
      // r = n − 3(m−1), n = id%10+4 frames; j ≥ 0.6 ⟺ k ≥ 3 ⟺ n ≥ 5
      // ⟺ id%10 ≠ 0 — both the PAIR SET and the jaccard VALUE are id
      // arithmetic (MultimodalSpec pins the same closed form)
      """SELECT doc_id AS id_a, doc_id + 600000 AS id_b,
        |  CAST(k - 1 AS DOUBLE) / k AS jaccard_sim
        |FROM (SELECT doc_id,
        |    2 * (((doc_id % 10 + 4) + 2) // 3 - 1) +
        |    CASE WHEN (doc_id % 10 + 4)
        |        - 3 * (((doc_id % 10 + 4) + 2) // 3 - 1) >= 2
        |      THEN 1 ELSE 0 END AS k
        |  FROM documents
        |  WHERE doc_id % 3 = 2 AND doc_id % 10 <> 0)""".stripMargin,
    "q328_video_containment" ->
      // the copy's suffix shingles are a subset of the original's →
      // containment exactly 1.0 for every deep-trimmed video; the
      // jaccard each such pair would score is |c|/|o| < 0.6 (the q322
      // tier's documented miss)
      """SELECT doc_id + 600000 AS id_a, doc_id AS id_b,
        |  1.0 AS containment
        |FROM documents
        |WHERE doc_id % 3 = 2 AND doc_id % 10 >= 4""".stripMargin,
    "q326_video_neardup_indexed" ->
      // every even video's trimmed copy matches its original iff
      // j = (k−1)/k ≥ 0.6 ⟺ n ≥ 5 ⟺ id%10 ≠ 0 (the q322 closed form);
      // exact frame identity makes cross-video matches impossible
      """SELECT doc_id + 600000 AS batch_id, doc_id AS corpus_id
        |FROM documents
        |WHERE doc_id % 3 = 2 AND doc_id % 2 = 0
        |  AND doc_id % 10 <> 0""".stripMargin,
    "q334_video_neardup_perceptual" ->
      // every textured video's re-encode keeps all frame pHashes
      // bit-exact → identical shingle sets → jaccard exactly 1.0;
      // distinct textures share no scene hash, so no other pair exists
      """SELECT doc_id AS id_a, doc_id + 600000 AS id_b,
        |  1.0 AS jaccard_sim
        |FROM documents
        |WHERE doc_id % 3 = 2""".stripMargin,
    "q339_video_containment_indexed" ->
      // every indexed original's deep-trimmed copy is contained at
      // exactly 1.0 — the q328 closed form through the persisted
      // anchor-key index
      """SELECT doc_id + 600000 AS batch_id, doc_id AS corpus_id,
        |  1.0 AS containment
        |FROM documents
        |WHERE doc_id % 3 = 2 AND doc_id % 2 = 0
        |  AND doc_id % 10 >= 4""".stripMargin,
    "q337_image_tile_neardup" ->
      // one cut tile column: j = (tW−1)·tH/(tW·tH) with tW = m%4+2,
      // tH = m%3+2, m = doc_id//3; j ≥ 0.6 ⟺ tW ≥ 3 ⟺ m%4 ≥ 1 —
      // spelled with the exact numerator/denominator Spark divides
      """SELECT doc_id AS id_a, doc_id + 600000 AS id_b,
        |  CAST((tw - 1) * th AS DOUBLE) / (tw * th) AS jaccard_sim
        |FROM (SELECT doc_id, (doc_id // 3) % 4 + 2 AS tw,
        |    (doc_id // 3) % 3 + 2 AS th
        |  FROM documents
        |  WHERE doc_id % 3 = 0 AND (doc_id // 3) % 4 >= 1)""".stripMargin,
    "q338_image_tile_indexed" ->
      // every even image original's column-cropped copy matches iff
      // tW ≥ 3 — the q337 closed form through the persisted index
      """SELECT doc_id + 600000 AS batch_id, doc_id AS corpus_id
        |FROM documents
        |WHERE doc_id % 3 = 0 AND doc_id % 2 = 0
        |  AND (doc_id // 3) % 4 >= 1""".stripMargin,
    "q333_image_crop_containment" ->
      // every image's grid-aligned crop keeps its tiles pixel-exact →
      // tile set ⊆ original's → containment 1.0; the reverse direction
      // and all cross-image pairs drop (no shared tiles)
      """SELECT doc_id + 600000 AS id_a, doc_id AS id_b,
        |  1.0 AS containment
        |FROM documents
        |WHERE doc_id % 3 = 0""".stripMargin,
    "q329_audio_neardup_trim" ->
      // the copy missing one 16-sample window keeps windows 1..k−1 of
      // the original's k = n div 16 → j = (k−1)/k; j ≥ 0.6 ⟺ k ≥ 3
      // ⟺ n = id%50+20 ≥ 48 ⟺ id%50 ≥ 28 — both the PAIR SET and the
      // jaccard VALUE are id arithmetic (the hash-mixed PCM family
      // guarantees zero cross-clip window collisions; MultimodalSpec
      // pins the closed form and the whole-clip-fingerprint miss)
      """SELECT doc_id AS id_a, doc_id + 600000 AS id_b,
        |  CAST(k - 1 AS DOUBLE) / k AS jaccard_sim
        |FROM (SELECT doc_id, (doc_id % 50 + 20) // 16 AS k
        |  FROM documents
        |  WHERE doc_id % 3 = 1 AND doc_id % 50 >= 28)""".stripMargin,
    "q335_audio_containment" ->
      // the deep-trimmed copy's window set is a strict subset of the
      // original's → containment exactly 1.0 for every clip whose copy
      // keeps ≥ 1 complete window (k ≥ 3); the jaccard each pair would
      // score is (k−2)/k ≤ 1/2 — the q329 tier's documented miss
      """SELECT doc_id + 600000 AS id_a, doc_id AS id_b,
        |  1.0 AS containment
        |FROM documents
        |WHERE doc_id % 3 = 1 AND doc_id % 50 >= 28""".stripMargin,
    "q336_audio_neardup_overlap" ->
      // two hop lanes {0, 8}: the half-window-trimmed copy's lane-0
      // windows ARE the original's lane-8 windows and its lane-8 is the
      // original's lane-0 minus window 0 → intersection s−1 of union s,
      // s = n div 16 + (n−8) div 16; j ≥ 0.6 ⟺ s ≥ 3 ⟺ id%50 ≥ 12
      """SELECT doc_id AS id_a, doc_id + 600000 AS id_b,
        |  CAST(s - 1 AS DOUBLE) / s AS jaccard_sim
        |FROM (SELECT doc_id,
        |    (doc_id % 50 + 20) // 16 + (doc_id % 50 + 12) // 16 AS s
        |  FROM documents
        |  WHERE doc_id % 3 = 1 AND doc_id % 50 >= 12)""".stripMargin,
    "q330_audio_neardup_indexed" ->
      // every even audio original's trimmed copy matches iff k ≥ 3 —
      // the q329 closed form through the persisted hash-set index
      """SELECT doc_id + 600000 AS batch_id, doc_id AS corpus_id
        |FROM documents
        |WHERE doc_id % 3 = 1 AND doc_id % 2 = 0
        |  AND doc_id % 50 >= 28""".stripMargin,
    "q321_audio_spectral_dup_indexed" ->
      // equal (spectral_fp, n_samples) ⇔ equal pattern id (n_samples =
      // pid+20 injective over pid < 5) — same shape as the q296 oracle
      """SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
        |FROM documents b JOIN documents c
        |  ON b.doc_id % 5 = c.doc_id % 5
        |WHERE b.doc_id % 3 = 1 AND b.doc_id % 2 = 1
        |  AND c.doc_id % 3 = 1 AND c.doc_id % 2 = 0""".stripMargin,
    "q312_release_gate" -> {
      // per-doc blocked = OR over the phrase list's replace-difference
      // hits (≡ the Spark side's summed-hits > 0); PII counts replay the
      // q112 sequential scrub chain from the SAME Redact constants
      val blocked = blocklistPhrases.map(p =>
        s"len(lower(t)) - len(replace(lower(t), '$p', '')) > 0")
        .mkString(" OR ")
      s"""WITH pii AS ($piiInjectedCteSql),
         |s1 AS (SELECT *, CAST(len(regexp_extract_all(t,
         |      '${graft.ops.Redact.emailPattern}')) AS INTEGER) AS n_emails,
         |    regexp_replace(t, '${graft.ops.Redact.emailPattern}',
         |      '<EMAIL>', 'g') AS t1
         |  FROM pii),
         |s2 AS (SELECT *, CAST(len(regexp_extract_all(t1,
         |      '${graft.ops.Redact.ipv4Pattern}')) AS INTEGER) AS n_ips,
         |    regexp_replace(t1, '${graft.ops.Redact.ipv4Pattern}',
         |      '<IP>', 'g') AS t2
         |  FROM s1),
         |pd AS (SELECT source, lang, n_chars // 200 AS lb,
         |    CASE WHEN n_emails + n_ips + CAST(len(regexp_extract_all(t2,
         |      '${graft.ops.Redact.phonePattern}')) AS INTEGER) > 0
         |      THEN 1 ELSE 0 END AS pii_doc,
         |    CASE WHEN $blocked THEN 1 ELSE 0 END AS blocked_doc
         |  FROM s2),
         |cells AS (SELECT source, lb, lang, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(pii_doc) AS BIGINT) AS p,
         |    CAST(sum(blocked_doc) AS BIGINT) AS b
         |  FROM pd GROUP BY 1, 2, 3),
         |g2 AS (SELECT source, lb, CAST(sum(n) AS BIGINT) AS k,
         |    CAST(sum(p) AS BIGINT) AS p, CAST(sum(b) AS BIGINT) AS b
         |  FROM cells GROUP BY 1, 2),
         |langs AS (SELECT source, CAST(count(DISTINCT lang) AS BIGINT)
         |    AS distinct_langs FROM cells GROUP BY 1),
         |src AS (SELECT source, CAST(sum(k) AS BIGINT) AS n_docs,
         |    CAST(min(k) AS BIGINT) AS min_group_k,
         |    CAST(sum(p) AS BIGINT) AS p, CAST(sum(b) AS BIGINT) AS b
         |  FROM g2 GROUP BY 1),
         |rep AS (SELECT src.source, n_docs,
         |    1000000 * p // n_docs AS pii_docs_ppm,
         |    1000000 * b // n_docs AS blocked_docs_ppm,
         |    min_group_k, distinct_langs
         |  FROM src JOIN langs USING (source))
         |SELECT source, n_docs, pii_docs_ppm, blocked_docs_ppm,
         |  min_group_k, distinct_langs,
         |  CAST(pii_docs_ppm <= 500000 AND blocked_docs_ppm <= 250000
         |    AND min_group_k >= 4 AND distinct_langs >= 5 AS INTEGER)
         |    AS release_ok
         |FROM rep""".stripMargin
    },
    "q296_audio_dup_indexed" ->
      // byte-identical audio ⇔ equal pattern id (n_samples = pid+20 is
      // injective over pid < 5), so the index probe is id arithmetic
      """SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
        |FROM documents b JOIN documents c
        |  ON b.doc_id % 5 = c.doc_id % 5
        |WHERE b.doc_id % 3 = 1 AND b.doc_id % 2 = 1
        |  AND c.doc_id % 3 = 1 AND c.doc_id % 2 = 0""".stripMargin,
    "q297_video_dup_indexed" ->
      // byte-identical video ⇔ equal pattern id (n_frames = pid+4 is
      // injective over pid < 5)
      """SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
        |FROM documents b JOIN documents c
        |  ON b.doc_id % 5 = c.doc_id % 5
        |WHERE b.doc_id % 3 = 2 AND b.doc_id % 2 = 1
        |  AND c.doc_id % 3 = 2 AND c.doc_id % 2 = 0""".stripMargin,
    "q295_image_neardup_indexed" -> {
      // the banded index probe equals the plain all-pairs Hamming filter
      // (pigeonhole, maxDist 3 < 4 bands), so the oracle skips the bands
      // and replays hashes (the q273/q274 shared CTE) + bit_count/xor
      val ham = "bit_count(xor(bh.hi, ch.hi)) + bit_count(xor(bh.lo, ch.lo))"
      s"""WITH corpus AS (SELECT doc_id, doc_id % 5 AS pid
         |  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 = 0),
         |batch AS (SELECT doc_id, doc_id % 5 AS pid
         |  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 = 1),
         |pats AS (SELECT DISTINCT pid FROM (SELECT pid FROM corpus
         |  UNION ALL SELECT pid FROM batch) u),
         |${ahashCtesSql("pid", "pats")},
         |bh AS (SELECT b.doc_id AS batch_id, ah.ahash_hi AS hi,
         |    ah.ahash_lo AS lo
         |  FROM batch b JOIN ah ON b.pid = ah.id),
         |ch AS (SELECT c.doc_id AS corpus_id, ah.ahash_hi AS hi,
         |    ah.ahash_lo AS lo
         |  FROM corpus c JOIN ah ON c.pid = ah.id)
         |SELECT batch_id, corpus_id, CAST($ham AS INTEGER) AS dist
         |FROM bh, ch WHERE $ham <= 3""".stripMargin
    },
    "q279_image_quality" ->
      // replays pattern → full-resolution gray → exact integer moments +
      // per-bin nano-snapped c·ln c, assembled with DuckDB's round/ln in
      // the same expression shapes as the Spark query layer
      """WITH m AS (SELECT doc_id AS id,
        |    CAST(doc_id % 13 + 4 AS INTEGER) AS w,
        |    CAST(doc_id % 11 + 4 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |gx AS (SELECT m.*, unnest(range(w)) AS x FROM m),
        |px AS (SELECT gx.*, unnest(range(h)) AS y FROM gx),
        |c AS (SELECT id, w, h,
        |    (((id * 7 + x * 31 + y * 17) % 256)
        |     + ((id * 3 + x * 13 + y * 29) % 256)
        |     + ((id * 11 + x * 23 + y * 19) % 256)) // 3 AS g
        |  FROM px),
        |a AS (SELECT id, w, h, CAST(sum(g) AS BIGINT) AS s1,
        |    CAST(sum(g * g) AS BIGINT) AS s2
        |  FROM c GROUP BY id, w, h),
        |hb AS (SELECT id, g // 16 AS b, CAST(count(*) AS BIGINT) AS cb
        |  FROM c GROUP BY id, g // 16),
        |he AS (SELECT id,
        |    CAST(sum(CAST(round(cb * ln(cb) * 1e9) AS BIGINT)) AS BIGINT)
        |      AS ent
        |  FROM hb GROUP BY id)
        |SELECT id AS media_id, w AS width, h AS height,
        |  round(CAST(s1 AS DOUBLE) / (w * h), 6) AS gray_mean,
        |  round((CAST(s2 AS DOUBLE) * (w * h) - CAST(s1 AS DOUBLE) * s1)
        |    / CAST(CAST(w * h AS BIGINT) * (w * h) AS DOUBLE), 6)
        |    AS gray_contrast,
        |  round(ln(w * h) - (CAST(ent AS DOUBLE) / 1e9) / (w * h), 6)
        |    AS gray_entropy
        |FROM a JOIN he USING (id)""".stripMargin,
    "q280_meta_mismatch" ->
      // the lie is fully determined: +5 on width for image ids ≡ 0 mod 7
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 13 + 4 + 5 AS INTEGER) AS declared_width,
        |  CAST(doc_id % 13 + 4 AS INTEGER) AS decoded_width,
        |  CAST(doc_id % 11 + 4 AS INTEGER) AS declared_height,
        |  CAST(doc_id % 11 + 4 AS INTEGER) AS decoded_height
        |FROM documents
        |WHERE doc_id % 3 = 0 AND doc_id % 7 = 0""".stripMargin,
    "q277_audio_dup_groups" ->
      // fingerprint per DISTINCT signal pattern (pid = doc_id % 10)
      // replayed from the PCM closed form, joined back to the audio
      // rows, grouped by (fingerprint, n_samples) exactly like Spark
      """WITH auds AS (SELECT doc_id, doc_id % 10 AS pid
        |  FROM documents WHERE doc_id % 3 = 1),
        |pats AS (SELECT DISTINCT pid FROM auds),
        |pm AS (SELECT pid, pid % 50 + 20 AS n FROM pats),
        |ps AS (SELECT pid, n, unnest(range(n)) AS i FROM pm),
        |pv AS (SELECT pid, n,
        |    abs((pid * 31 + i * 17) % 2001 - 1000) AS a,
        |    (i * 16) // n AS w
        |  FROM ps),
        |pe AS (SELECT pid, n, w, sum(a) AS e FROM pv GROUP BY pid, n, w),
        |pd AS (SELECT pid, n, w, e,
        |    lag(e) OVER (PARTITION BY pid ORDER BY w) AS ep
        |  FROM pe),
        |pf AS (SELECT pid, CAST(max(n) AS BIGINT) AS n_samples,
        |    CAST(coalesce(sum(CASE WHEN w >= 1 AND e > ep
        |      THEN (CAST(1 AS BIGINT) << (w - 1)) ELSE 0 END), 0)
        |      AS BIGINT) AS fingerprint
        |  FROM pd GROUP BY pid)
        |SELECT fingerprint, n_samples,
        |  CAST(count(*) AS BIGINT) AS n_copies, min(doc_id) AS rep_id
        |FROM auds JOIN pf ON auds.pid = pf.pid
        |GROUP BY fingerprint, n_samples
        |HAVING count(*) >= 2""".stripMargin,
    "q278_scene_changes" -> {
      // q151's digest-once frame features + a per-video lag window; the
      // L1 sum is written left-associated on both engines and rounded
      // before the threshold compare (NOTES_r3 discipline)
      val fcols = (0 until 4).map(i =>
        s"((${hash31Sql("CAST(dg AS VARCHAR) || '#' || CAST(frame_no AS VARCHAR) || ':' || " + i)}) " +
          s"% 1000003)::DOUBLE / 1000003 AS f$i").mkString(",\n  ")
      val lags = (0 until 4).map(i =>
        s"lag(f$i) OVER (PARTITION BY media_id ORDER BY frame_no) AS p$i")
        .mkString(",\n  ")
      val l1 = (0 until 4).map(i => s"abs(f$i - p$i)").mkString(" + ")
      s"""WITH m AS (SELECT doc_id AS media_id,
         |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
         |    (${hash60Sql("sha256(CAST(doc_id AS VARCHAR))")}) AS dg,
         |    doc_id % 60000 AS duration_ms
         |  FROM documents),
         |fr AS (SELECT media_id, dg,
         |    unnest(range(0, CAST(ceil(duration_ms * 30e0 / 1000e0) AS BIGINT)))
         |      AS frame_no
         |  FROM m WHERE kind = 'video'),
         |f AS (SELECT media_id, frame_no,
         |  $fcols
         |FROM fr),
         |lg AS (SELECT media_id,
         |  $lags,
         |  f0, f1, f2, f3
         |FROM f)
         |SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(coalesce(sum(CASE WHEN round($l1, 6) > 1.0
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cuts
         |FROM lg GROUP BY media_id""".stripMargin
    },
    "q269_pii_by_source" ->
      s"""WITH pii AS ($piiInjectedCteSql),
         |s1 AS (SELECT source, len(t) AS nc,
         |    CAST(len(regexp_extract_all(t, '${graft.ops.Redact.emailPattern}')) AS INTEGER) AS ne,
         |    regexp_replace(t, '${graft.ops.Redact.emailPattern}', '<EMAIL>', 'g') AS t1
         |  FROM pii),
         |s2 AS (SELECT source, nc, ne,
         |    CAST(len(regexp_extract_all(t1, '${graft.ops.Redact.ipv4Pattern}')) AS INTEGER) AS ni,
         |    regexp_replace(t1, '${graft.ops.Redact.ipv4Pattern}', '<IP>', 'g') AS t2
         |  FROM s1),
         |s3 AS (SELECT source, nc, ne, ni,
         |    CAST(len(regexp_extract_all(t2, '${graft.ops.Redact.phonePattern}')) AS INTEGER) AS np
         |  FROM s2),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS docs_with_pii,
         |    CAST(sum(ne + ni + np) AS BIGINT) AS total_hits,
         |    CAST(sum(nc) AS BIGINT) AS chars
         |  FROM s3 GROUP BY source)
         |SELECT source, n_docs, docs_with_pii,
         |  CAST(1000000 * docs_with_pii // n_docs AS BIGINT)
         |    AS pii_docs_ppm,
         |  total_hits,
         |  CAST(1000000 * total_hits // greatest(chars, 1) AS BIGINT)
         |    AS hits_per_mchar
         |FROM g""".stripMargin,
    "q268_ann_recall_sweep" -> {
      def probe(p: Int) =
        s"""qcx$p AS (SELECT cell_id FROM cent, q
           |  ORDER BY round(${cosSql("c", "qe")}, 6) DESC, cell_id
           |  LIMIT $p),
           |ivfx$p AS (SELECT v.vec_id
           |  FROM v JOIN assign USING (vec_id) JOIN qcx$p USING (cell_id),
           |    q
           |  WHERE v.vec_id <> 1
           |  ORDER BY ${cosSql("v.e", "qe")} DESC, v.vec_id LIMIT 10),
           |ovx$p AS (SELECT CAST(count(*) AS BIGINT) AS o FROM ex
           |  WHERE vec_id IN (SELECT vec_id FROM ivfx$p))""".stripMargin
      s"""WITH $ivfCtesSql,
         |ex AS (SELECT v.vec_id FROM v, q WHERE v.vec_id <> 1
         |  ORDER BY ${cosSql("v.e", "qe")} DESC, v.vec_id LIMIT 10),
         |${Seq(1, 2, 4).map(probe).mkString(",\n")}
         |${Seq(1, 2, 4).map(p =>
            s"SELECT $p AS n_probe, o AS n_overlap, " +
              s"CAST(1000000 * o // 10 AS BIGINT) AS recall_ppm " +
              s"FROM ovx$p").mkString("\nUNION ALL ")}""".stripMargin
    },
    "q267_ann_recall_report" ->
      s"""WITH $ivfCtesSql,
         |ivf AS (SELECT v.vec_id
         |  FROM v JOIN assign USING (vec_id) JOIN qc USING (cell_id), q
         |  WHERE v.vec_id <> 1
         |  ORDER BY ${cosSql("v.e", "qe")} DESC, v.vec_id LIMIT 10),
         |ex AS (SELECT v.vec_id FROM v, q WHERE v.vec_id <> 1
         |  ORDER BY ${cosSql("v.e", "qe")} DESC, v.vec_id LIMIT 10),
         |ov AS (SELECT CAST(count(*) AS BIGINT) AS o FROM ex
         |  WHERE vec_id IN (SELECT vec_id FROM ivf))
         |SELECT 10 AS k,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ivf) AS n_ivf,
         |  o AS n_overlap,
         |  CAST(1000000 * o // (SELECT count(*) FROM ex) AS BIGINT)
         |    AS recall_ppm
         |FROM ov""".stripMargin,
    "q266_deduped_search" ->
      s"""WITH RECURSIVE ${jaccardPairCtesSql(2, 0.8)},
         |e2 AS (SELECT id_a AS s2, id_b AS t2 FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |r2(s2, t2) AS (SELECT s2, t2 FROM e2
         |  UNION SELECT r.s2, e.t2 FROM r2 r JOIN e2 e ON r.t2 = e.s2),
         |cl AS (SELECT s2 AS doc_id, least(s2, min(t2)) AS rep
         |  FROM r2 GROUP BY s2),
         |bt AS (SELECT doc_id, bm25 FROM ($bm25TopSql)),
         |jn AS (SELECT bt.doc_id, bm25,
         |    coalesce(cl.rep, bt.doc_id) AS dup_group
         |  FROM bt LEFT JOIN cl ON bt.doc_id = cl.doc_id),
         |kp AS (SELECT doc_id, bm25, dup_group,
         |    row_number() OVER (PARTITION BY dup_group
         |      ORDER BY bm25 DESC, doc_id) AS rn
         |  FROM jn)
         |SELECT doc_id, bm25, dup_group FROM kp WHERE rn = 1
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,
    "q265_decayed_popularity" ->
      """WITH d AS (SELECT event_type AS g,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY g, day),
        |r AS (SELECT max(day) AS ref FROM d),
        |t AS (SELECT g, c,
        |    CAST(round(CAST(c AS DOUBLE)
        |      * exp(-(ln(2.0) * CAST(ref - day AS DOUBLE) / 7.0))
        |      * 1e9) AS BIGINT) AS nano
        |  FROM d CROSS JOIN r),
        |a AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_events,
        |    round(CAST(sum(nano) AS BIGINT) / 1e9, 6) AS decayed_count
        |  FROM t GROUP BY g)
        |SELECT g AS event_type, n_events, decayed_count,
        |  round(decayed_count / CAST(n_events AS DOUBLE), 6)
        |    AS freshness_ratio
        |FROM a""".stripMargin,
    "q264_corpus_health" ->
      s"""WITH dup AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(1000000 * (count(*) - count(DISTINCT
         |      ${hash31Sql("text")})) // count(*) AS BIGINT) AS dup_ppm
         |  FROM documents),
         |pb AS (SELECT n_chars AS v, doc_id % 2 = 0 AS r FROM documents),
         |ped AS (SELECT min(v) AS lo, max(v) AS hi FROM pb WHERE r),
         |pbn AS (SELECT r,
         |    CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
         |         ELSE (least(greatest(v, lo), hi) - lo) * 10
         |              // (hi - lo + 1)
         |    END AS bin
         |  FROM pb CROSS JOIN ped),
         |pc AS (SELECT bin,
         |    CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS cr,
         |    CAST(sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS BIGINT) AS cc
         |  FROM pbn GROUP BY bin),
         |pt AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
         |    CAST(sum(cc) AS BIGINT) AS nc FROM pc),
         |pf AS (SELECT nr, nc, gs.bin,
         |    coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
         |  FROM pt CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) gs
         |  LEFT JOIN pc ON pc.bin = gs.bin),
         |pn AS (SELECT
         |    CAST(round((CAST(cc + 1 AS DOUBLE) / (nc + 10)
         |        - CAST(cr + 1 AS DOUBLE) / (nr + 10))
         |      * ln((CAST(cc + 1 AS DOUBLE) / (nc + 10))
         |          / (CAST(cr + 1 AS DOUBLE) / (nr + 10)))
         |      * 1e9) AS BIGINT) AS nano
         |  FROM pf),
         |psi AS (SELECT round(CAST(sum(nano) AS BIGINT) / 1e9, 6)
         |    AS length_psi FROM pn),
         |f AS ($qualityFeaturesSql),
         |sc AS (SELECT round(1.0 / (1.0 + exp(-(-2.0
         |      + 0.45 * ln(1.0 + n_tokens) + 3.0 * stopword_ratio
         |      + 0.15 * mean_token_len - 8.0 * punct_ratio))), 6) AS p
         |  FROM f),
         |qm AS (SELECT CAST(CAST(sum(CAST(round(p * 1e6) AS BIGINT))
         |      AS BIGINT) // count(*) AS BIGINT) AS mean_quality_ppm
         |  FROM sc),
         |srcs AS (SELECT source, CAST(count(*) AS BIGINT) AS c
         |  FROM documents GROUP BY source),
         |tops AS (SELECT CAST(1000000 * max(c) //
         |    CAST(sum(c) AS BIGINT) AS BIGINT) AS top_source_share_ppm
         |  FROM srcs),
         |${shingleCtesSql(3)},
         |sb AS (SELECT DISTINCT doc_id // 50 AS batch,
         |    ${hash31Sql("sg")} AS h
         |  FROM (SELECT doc_id, unnest(s) AS sg FROM sh)),
         |fs AS (SELECT h, min(batch) AS fb FROM sb GROUP BY h),
         |pr AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_shingles
         |  FROM sb GROUP BY batch),
         |fr AS (SELECT fb AS batch, CAST(count(*) AS BIGINT) AS n_new
         |  FROM fs GROUP BY fb),
         |nov AS (SELECT CAST(1000000 * coalesce(n_new, 0) // n_shingles
         |      AS BIGINT) AS last_batch_novelty_ppm
         |  FROM pr LEFT JOIN fr ON pr.batch = fr.batch
         |  ORDER BY pr.batch DESC LIMIT 1)
         |SELECT n_docs, dup_ppm, length_psi, mean_quality_ppm,
         |  top_source_share_ppm, last_batch_novelty_ppm
         |FROM dup CROSS JOIN psi CROSS JOIN qm CROSS JOIN tops
         |CROSS JOIN nov""".stripMargin,
    "q263_hybrid_linear" ->
      s"""WITH sp AS (SELECT doc_id, bm25 FROM ($bm25TopSql)),
         |spm AS (SELECT min(bm25) AS lo, max(bm25) AS hi FROM sp),
         |spn AS (SELECT doc_id, 0.3 * (CASE WHEN hi = lo THEN 1.0
         |    ELSE round((bm25 - lo) / (hi - lo), 6) END) AS w0
         |  FROM sp CROSS JOIN spm),
         |dtop AS (
         |  SELECT vec_id, round(${cosSql("ae", "qe")}, 6) AS sim,
         |    ${cosSql("ae", "qe")} AS rawsim
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS ae FROM embeddings
         |        WHERE vec_id <> 0),
         |    (SELECT embedding::DOUBLE[] AS qe FROM embeddings
         |     WHERE vec_id = 0)
         |  ORDER BY rawsim DESC, vec_id LIMIT 20),
         |dm AS (SELECT min(sim) AS lo, max(sim) AS hi FROM dtop),
         |dn AS (SELECT vec_id AS doc_id, 0.7 * (CASE WHEN hi = lo THEN 1.0
         |    ELSE round((sim - lo) / (hi - lo), 6) END) AS w1
         |  FROM dtop CROSS JOIN dm),
         |fz AS (SELECT coalesce(spn.doc_id, dn.doc_id) AS doc_id,
         |    round(coalesce(w0, 0.0) + coalesce(w1, 0.0), 6)
         |      AS fused_score
         |  FROM spn FULL OUTER JOIN dn ON spn.doc_id = dn.doc_id)
         |SELECT doc_id, fused_score FROM fz
         |ORDER BY fused_score DESC, doc_id LIMIT 10""".stripMargin,
    "q262_quality_influence" ->
      s"""WITH f AS ($qualityFeaturesSql),
         |sc AS (SELECT doc_id,
         |    round(1.0 / (1.0 + exp(-(-2.0 + 0.45 * ln(1.0 + n_tokens)
         |      + 3.0 * stopword_ratio + 0.15 * mean_token_len
         |      - 8.0 * punct_ratio))), 6) AS p
         |  FROM f),
         |j AS (SELECT d.source, CAST(round(p * 1e6) AS BIGINT) AS v
         |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
         |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS s FROM j GROUP BY source),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |    CAST(sum(s) AS BIGINT) AS ss,
         |    CAST(count(*) AS BIGINT) AS k FROM per),
         |b AS (SELECT source, n, k,
         |    CASE WHEN nn > n THEN round(CAST(ss - s AS DOUBLE)
         |      / CAST((nn - n) * 1000000 AS DOUBLE), 6) END AS loo,
         |    round(CAST(ss AS DOUBLE) / CAST(nn * 1000000 AS DOUBLE), 6)
         |      AS ov
         |  FROM per CROSS JOIN tot),
         |sej AS (SELECT round(sqrt(CAST((k - 1) * (k * st2 - st * st)
         |      AS DOUBLE) / CAST(k * k AS DOUBLE)) / 1e6, 6)
         |    AS jackknife_se
         |  FROM (SELECT k, CAST(sum(tm) AS BIGINT) AS st,
         |      CAST(sum(tm * tm) AS BIGINT) AS st2
         |    FROM (SELECT k, CAST(round(loo * 1e6) AS BIGINT) AS tm
         |      FROM b) GROUP BY k))
         |SELECT source, n AS n_docs, loo AS loo_mean,
         |  round(loo - ov, 6) AS influence, sej.jackknife_se
         |FROM b CROSS JOIN sej""".stripMargin,
    "q261_readability" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks, text FROM documents),
         |c AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS w,
         |    greatest(CAST(1 AS BIGINT),
         |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
         |      AS s,
         |    CAST(coalesce(list_sum(list_transform(toks, x ->
         |      greatest(1, len(regexp_extract_all(lower(x),
         |        '[aeiouy]+'))))), 0) AS BIGINT) AS sy
         |  FROM t)
         |SELECT doc_id, w AS n_words, s AS n_sentences,
         |  sy AS n_syllables,
         |  CASE WHEN w > 0 THEN round(206.835
         |    - 1.015 * (CAST(w AS DOUBLE) / s)
         |    - 84.6 * (CAST(sy AS DOUBLE) / w), 6) END AS flesch
         |FROM c""".stripMargin,
    "q260_community_modularity" ->
      s"""WITH lagd AS (SELECT event_type AS dst,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS src
         |  FROM events),
         |edges AS (SELECT src, dst, count(*) AS w FROM lagd
         |  WHERE src IS NOT NULL GROUP BY src, dst),
         |${graft.ops.Graph.labelPropagationCtesSql("edges", 5)},
         |lab AS (SELECT node, label FROM l5b),
         |adj AS (SELECT src AS a, dst AS b, w FROM edges
         |  UNION ALL SELECT dst, src, w FROM edges),
         |wl AS (SELECT w, la.label AS la, lb.label AS lb
         |  FROM adj JOIN lab la ON adj.a = la.node
         |  JOIN lab lb ON adj.b = lb.node),
         |mm AS (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM wl),
         |dc AS (SELECT la AS label, CAST(sum(w) AS BIGINT) AS deg
         |  FROM wl GROUP BY la),
         |wc AS (SELECT la AS label, CAST(sum(w) AS BIGINT) AS win
         |  FROM wl WHERE la = lb GROUP BY la),
         |g AS (SELECT dc.label, deg, coalesce(win, 0) AS win
         |  FROM dc LEFT JOIN wc ON dc.label = wc.label)
         |SELECT CAST(count(*) AS BIGINT) AS n_communities, m2,
         |  round(CAST(sum(win * m2 - deg * deg) AS DOUBLE)
         |    / CAST(m2 * m2 AS DOUBLE), 6) AS modularity
         |FROM g CROSS JOIN mm GROUP BY m2""".stripMargin,
    "q259_last_touch_attribution" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)
        |      // 10 AS kb
        |  FROM events),
        |a AS (SELECT event_type, cents,
        |    last_value(CASE WHEN event_type = 'view' THEN kb END
        |      IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ch
        |  FROM e)
        |SELECT coalesce(ch, -1) AS channel,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(sum(cents) AS BIGINT) AS attributed_cents
        |FROM a WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,
    "q258_novelty_curve" ->
      s"""WITH ${shingleCtesSql(3)},
         |sb AS (SELECT DISTINCT doc_id // 50 AS batch,
         |    ${hash31Sql("sg")} AS h
         |  FROM (SELECT doc_id, unnest(s) AS sg FROM sh)),
         |fs AS (SELECT h, min(batch) AS fb FROM sb GROUP BY h),
         |pr AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_shingles
         |  FROM sb GROUP BY batch),
         |fr AS (SELECT fb AS batch, CAST(count(*) AS BIGINT) AS n_new
         |  FROM fs GROUP BY fb)
         |SELECT pr.batch, n_shingles, coalesce(n_new, 0) AS n_new,
         |  CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY pr.batch
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_new,
         |  CAST(1000000 * coalesce(n_new, 0) // n_shingles AS BIGINT)
         |    AS novelty_ppm
         |FROM pr LEFT JOIN fr ON pr.batch = fr.batch""".stripMargin,
    "q256_benford_audit" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
        |    AS v FROM lineitem),
        |c AS (SELECT CAST(left(CAST(v AS VARCHAR), 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM v WHERE v >= 1 GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM c),
        |g AS (SELECT unnest(range(1, 10)) AS digit),
        |j AS (SELECT g.digit, coalesce(n_obs, 0) AS n_obs, n,
        |    ln((g.digit + 1.0) / g.digit) / ln(10.0) AS pexp
        |  FROM g LEFT JOIN c ON g.digit = c.digit CROSS JOIN t)
        |SELECT digit, n_obs,
        |  CAST(1000000 * n_obs // n AS BIGINT) AS obs_ppm,
        |  CAST(round(1e6 * pexp) AS BIGINT) AS expected_ppm,
        |  round((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * pexp)
        |      * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * pexp)
        |      / (CAST(n AS DOUBLE) * pexp), 6) AS chi2_term
        |FROM j""".stripMargin,
    "q255_cusum_alarm" ->
      """WITH RECURSIVE e AS (SELECT event_type AS g,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |d AS (SELECT g, day, CAST(sum(c) AS BIGINT) AS sc,
        |    CAST(count(*) AS BIGINT) AS n FROM e GROUP BY g, day),
        |x AS (SELECT g, day, sc * 1000000 // n AS xv,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY day)
        |      AS BIGINT) AS i
        |  FROM d),
        |p AS (SELECT g, CAST(sum(xv) AS BIGINT) // count(*) AS mu FROM x
        |  GROUP BY g),
        |p2 AS (SELECT g, mu, mu // 20 AS k, mu // 2 AS h FROM p),
        |rec(g, i, s) AS (
        |  SELECT g, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM p2
        |  UNION ALL
        |  SELECT r.g, r.i + 1,
        |    greatest(CAST(0 AS BIGINT), r.s + x.xv - p2.mu - p2.k)
        |  FROM rec r JOIN x ON x.g = r.g AND x.i = r.i + 1
        |  JOIN p2 ON p2.g = r.g)
        |SELECT x.g AS event_type, x.day, x.xv AS day_stat, rec.s AS cusum,
        |  p2.mu AS target, CAST(rec.s > p2.h AS INTEGER) AS alarm
        |FROM rec JOIN x ON x.g = rec.g AND x.i = rec.i
        |JOIN p2 ON p2.g = rec.g""".stripMargin,
    "q254_distinctive_terms" ->
      s"""WITH tf AS (SELECT source, tok AS term,
         |    CAST(count(*) AS BIGINT) AS ysw
         |  FROM (SELECT source, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY source, tok),
         |yw AS (SELECT term, CAST(sum(ysw) AS BIGINT) AS yw FROM tf
         |  GROUP BY term),
         |ns AS (SELECT source, CAST(sum(ysw) AS BIGINT) AS ns FROM tf
         |  GROUP BY source),
         |nt AS (SELECT CAST(sum(ysw) AS BIGINT) AS n FROM tf),
         |sc AS (SELECT tf.source, tf.term, ysw AS n_occurrences,
         |    round((ln(CAST(ysw + yw AS DOUBLE)
         |              / CAST(ns + n - ysw - yw AS DOUBLE))
         |         - ln(CAST((yw - ysw) + yw AS DOUBLE)
         |              / CAST(n - ns + n - (yw - ysw) - yw AS DOUBLE)))
         |      / sqrt(1.0 / CAST(ysw + yw AS DOUBLE)
         |           + 1.0 / CAST((yw - ysw) + yw AS DOUBLE)), 6)
         |      AS z_score
         |  FROM tf JOIN yw ON tf.term = yw.term
         |  JOIN ns ON tf.source = ns.source
         |  CROSS JOIN nt),
         |rk AS (SELECT source, term, n_occurrences, z_score,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY z_score DESC, term) AS rn
         |  FROM sc)
         |SELECT source, term, n_occurrences, z_score FROM rk
         |WHERE rn <= 5""".stripMargin,
    "q253_pack_partners" ->
      s"""WITH RECURSIVE
         |$complementTraceCtesSql,
         |ev AS (SELECT la AS l, step,
         |    CASE WHEN lb IS NULL THEN 'solo' ELSE 'a' END AS role, k
         |  FROM rec WHERE la IS NOT NULL
         |  UNION ALL
         |  SELECT lb, step, 'b', k FROM rec WHERE lb IS NOT NULL),
         |iv AS (SELECT l, step, role, k,
         |    CAST(sum(k) OVER (PARTITION BY l ORDER BY step, role
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
         |  FROM ev),
         |iv2 AS (SELECT l, step, role, hi - k AS lo, hi FROM iv),
         |rk AS (SELECT doc_id, least(CAST(len($toksSql) AS BIGINT), 256)
         |    AS l
         |  FROM documents WHERE CAST(len($toksSql) AS BIGINT) >= 1),
         |rk2 AS (SELECT doc_id, l, CAST(row_number() OVER
         |    (PARTITION BY l ORDER BY doc_id) AS BIGINT) AS r FROM rk),
         |asg AS (SELECT doc_id, rk2.l AS len, step, role, r - lo AS slot
         |  FROM rk2 JOIN iv2 ON rk2.l = iv2.l AND r > lo AND r <= hi),
         |pr AS (SELECT a.doc_id AS aid, b.doc_id AS bid,
         |    a.len AS alen, b.len AS blen, a.step AS step, a.slot AS slot
         |  FROM asg a JOIN asg b ON a.step = b.step AND a.slot = b.slot
         |    AND a.role = 'a' AND b.role = 'b'),
         |pm AS (SELECT aid AS doc_id, bid AS partner_id, blen AS plen
         |  FROM pr
         |  UNION ALL SELECT bid, aid, alen FROM pr)
         |SELECT asg.doc_id, len, step, role, slot, pm.partner_id,
         |  len + coalesce(pm.plen, 0) AS pack_tokens
         |FROM asg LEFT JOIN pm ON asg.doc_id = pm.doc_id""".stripMargin,
    "q251_degree_assortativity" ->
      """WITH cp AS MATERIALIZED (SELECT DISTINCT
        |    'c:' || o_custkey AS a, 'p:' || l_partkey AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |adj AS MATERIALIZED (SELECT a, b FROM cp
        |  UNION SELECT b, a FROM cp),
        |deg AS MATERIALIZED (SELECT a, CAST(count(*) AS BIGINT) AS d
        |  FROM adj GROUP BY a),
        |xy AS (SELECT dx.d AS x, dy.d AS y FROM adj
        |  JOIN deg dx ON adj.a = dx.a JOIN deg dy ON adj.b = dy.a),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM xy),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT n_nodes, m AS m_adj,
        |  CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN
        |    round(CAST(m * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6)
        |  END AS assortativity
        |FROM nn CROSS JOIN s""".stripMargin,
    "q250_quality_governance" ->
      s"""WITH $qualityScoreCurveSql,
         |a AS (SELECT
         |    CAST(sum(np * (2 * (t.neg - fp) + nn)) AS BIGINT) AS u2,
         |    CAST(sum(CAST(round(1e9 * np * tp / (tp + fp)) AS BIGINT))
         |      AS BIGINT) AS apn
         |  FROM c CROSS JOIN t),
         |b AS (SELECT round(2.0 * tp / (tp + fp + t.pos), 6) AS f1,
         |    threshold
         |  FROM c CROSS JOIN t ORDER BY f1 DESC, threshold DESC LIMIT 1),
         |roc AS (SELECT t.pos AS n_pos, t.neg AS n_neg,
         |  CASE WHEN t.pos > 0 AND t.neg > 0
         |    THEN round(u2 / (2.0 * t.pos * t.neg), 6) END AS auc,
         |  CASE WHEN t.pos > 0 AND t.neg > 0
         |    THEN round(CAST(u2 - t.pos * t.neg AS DOUBLE) /
         |               CAST(t.pos * t.neg AS DOUBLE), 6) END AS gini,
         |  CASE WHEN t.pos > 0
         |    THEN round(apn / (1e9 * t.pos), 6) END AS avg_precision,
         |  b.f1 AS best_f1, b.threshold AS best_f1_threshold
         |  FROM t CROSS JOIN a CROSS JOIN b),
         |gcal AS (SELECT LEAST(CAST(floor(p * 10) AS INTEGER), 9)
         |      AS bucket,
         |    count(*) AS n_docs, round(avg(p), 6) AS mean_prob,
         |    round(avg(CAST(y AS DOUBLE)), 6) AS pos_rate
         |  FROM j GROUP BY 1),
         |e AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nd,
         |    CAST(sum(CAST(round(n_docs *
         |        round(abs(mean_prob - pos_rate), 6) * 1e9) AS BIGINT))
         |      AS BIGINT) AS en
         |  FROM gcal)
         |SELECT nd AS n_docs, round(en / (1e9 * nd), 6) AS ece,
         |  roc.* FROM e CROSS JOIN roc""".stripMargin,
    "q249_lang_source_assoc" ->
      """WITH cells AS (SELECT lang AS a, source AS b,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY a, b),
        |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells
        |  GROUP BY a),
        |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells
        |  GROUP BY b),
        |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS r,
        |    CAST(count(DISTINCT b) AS BIGINT) AS c FROM cells),
        |grid AS (SELECT ra.ra, cb.cb, coalesce(o, 0) AS o
        |  FROM ra CROSS JOIN cb
        |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
        |t AS (SELECT n, r, c, CAST(round(
        |    CAST(o * n - ra * cb AS DOUBLE)
        |      * CAST(o * n - ra * cb AS DOUBLE)
        |      / CAST(n * ra * cb AS DOUBLE) * 1e9) AS BIGINT) AS nano
        |  FROM grid CROSS JOIN nt)
        |SELECT n, r AS n_a_classes, c AS n_b_classes,
        |  (r - 1) * (c - 1) AS dof,
        |  round(CAST(sum(nano) AS BIGINT) / 1e9, 6) AS chi2,
        |  CASE WHEN least(r, c) > 1 THEN
        |    round(sqrt((CAST(sum(nano) AS BIGINT) / 1e9)
        |      / CAST(n * (least(r, c) - 1) AS DOUBLE)), 6)
        |  ELSE 0.0 END AS cramers_v
        |FROM t GROUP BY n, r, c""".stripMargin,
    "q248_feature_mi" ->
      s"""WITH f AS ($qualityFeaturesSql),
         |j AS (SELECT f.*, CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM f JOIN documents d ON f.doc_id = d.doc_id),
         |m AS (SELECT 'n_tokens' AS feature, n_tokens AS v, y FROM j
         |  UNION ALL SELECT 'mean_token_len', mean_token_len, y FROM j
         |  UNION ALL SELECT 'stopword_ratio', stopword_ratio, y FROM j
         |  UNION ALL SELECT 'punct_ratio', punct_ratio, y FROM j),
         |ed AS (SELECT feature, min(v) AS lo, max(v) AS hi FROM m
         |  GROUP BY feature),
         |b AS (SELECT m.feature, y,
         |    CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
         |         ELSE least(CAST(floor((v - lo) * 10 / (hi - lo))
         |                AS BIGINT), 9)
         |    END AS bin
         |  FROM m JOIN ed ON m.feature = ed.feature),
         |c AS (SELECT feature, bin, y, CAST(count(*) AS BIGINT) AS nby
         |  FROM b GROUP BY feature, bin, y),
         |nb AS (SELECT feature, bin, CAST(sum(nby) AS BIGINT) AS nb
         |  FROM c GROUP BY feature, bin),
         |ny AS (SELECT feature, y, CAST(sum(nby) AS BIGINT) AS ny
         |  FROM c GROUP BY feature, y),
         |nt AS (SELECT feature, CAST(sum(nby) AS BIGINT) AS n
         |  FROM c GROUP BY feature),
         |t AS (SELECT c.feature,
         |    CAST(round((CAST(nby AS DOUBLE) / n)
         |      * ln(CAST(nby * n AS DOUBLE) / CAST(nb.nb * ny.ny AS DOUBLE))
         |      * 1e9) AS BIGINT) AS nano
         |  FROM c JOIN nb ON c.feature = nb.feature AND c.bin = nb.bin
         |  JOIN ny ON c.feature = ny.feature AND c.y = ny.y
         |  JOIN nt ON c.feature = nt.feature)
         |SELECT t.feature, nt.n AS n_docs,
         |  CAST(0 AS BIGINT) AS n_null,
         |  round(CAST(sum(nano) AS BIGINT) / 1e9, 6) AS mi_nats
         |FROM t JOIN nt ON t.feature = nt.feature
         |GROUP BY t.feature, nt.n""".stripMargin,
    "q242_quality_roc_report" ->
      s"""WITH $qualityScoreCurveSql,
         |a AS (SELECT
         |    CAST(sum(np * (2 * (t.neg - fp) + nn)) AS BIGINT) AS u2,
         |    CAST(sum(CAST(round(1e9 * np * tp / (tp + fp)) AS BIGINT))
         |      AS BIGINT) AS apn
         |  FROM c CROSS JOIN t),
         |b AS (SELECT round(2.0 * tp / (tp + fp + t.pos), 6) AS f1,
         |    threshold
         |  FROM c CROSS JOIN t ORDER BY f1 DESC, threshold DESC LIMIT 1)
         |SELECT t.pos AS n_pos, t.neg AS n_neg,
         |  CASE WHEN t.pos > 0 AND t.neg > 0
         |    THEN round(u2 / (2.0 * t.pos * t.neg), 6) END AS auc,
         |  CASE WHEN t.pos > 0 AND t.neg > 0
         |    THEN round(CAST(u2 - t.pos * t.neg AS DOUBLE) /
         |               CAST(t.pos * t.neg AS DOUBLE), 6) END AS gini,
         |  CASE WHEN t.pos > 0
         |    THEN round(apn / (1e9 * t.pos), 6) END AS avg_precision,
         |  b.f1 AS best_f1, b.threshold AS best_f1_threshold
         |FROM t CROSS JOIN a CROSS JOIN b""".stripMargin,
    "q243_quality_pr_curve" ->
      s"""WITH $qualityScoreCurveSql
         |SELECT threshold, np AS n_pos, nn AS n_neg,
         |  tp + fp AS n_pred, tp,
         |  round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS "precision",
         |  CASE WHEN t.pos > 0
         |    THEN round(CAST(tp AS DOUBLE) / t.pos, 6) END AS recall,
         |  round(2.0 * tp / (tp + fp + t.pos), 6) AS f1
         |FROM c CROSS JOIN t""".stripMargin,
    "q232_dedup_threshold_sweep" -> {
      def lane(tag: String, t: String) =
        s"""jp$tag AS (SELECT id_a, id_b FROM jp WHERE jaccard_sim >= $t),
           |e$tag AS (SELECT id_a AS s, id_b AS t FROM jp$tag
           |          UNION ALL SELECT id_b, id_a FROM jp$tag),
           |r$tag(s, t) AS (SELECT s, t FROM e$tag
           |  UNION SELECT r.s, e.t FROM r$tag r JOIN e$tag e ON r.t = e.s),
           |l$tag AS (SELECT s AS id, least(s, min(t)) AS rep
           |  FROM r$tag GROUP BY s)""".stripMargin
      def row(tag: String, t: String) =
        s"""SELECT CAST($t AS DOUBLE) AS threshold,
           |  (SELECT count(*) FROM jp$tag) AS n_pairs,
           |  (SELECT count(DISTINCT rep) FROM l$tag) AS n_clusters,
           |  (SELECT count(*) FROM l$tag WHERE id <> rep) AS n_removed""".stripMargin
      s"""WITH RECURSIVE ${jaccardPairCtesSql(2, 0.90)},
         |${lane("90", "0.90")},
         |${lane("95", "0.95")},
         |${lane("98", "0.98")}
         |${row("90", "0.90")}
         |UNION ALL
         |${row("95", "0.95")}
         |UNION ALL
         |${row("98", "0.98")}""".stripMargin
    },
    "q233_sequence_packing" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\f\r]+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n AS st
        |  FROM t)
        |SELECT doc_id, n AS n_tokens, st AS start_offset,
        |  CAST(st // 256 AS BIGINT) AS first_seq,
        |  CAST((st + n - 1) // 256 - st // 256 + 1 AS BIGINT) AS n_seqs,
        |  CAST(st % 256 AS BIGINT) AS offset_in_seq
        |FROM c""".stripMargin,
    "q234_packing_census" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\f\r]+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n AS st
        |  FROM t),
        |p AS (SELECT doc_id, n, st,
        |    CAST(st // 256 AS BIGINT) AS fs,
        |    CAST((st + n - 1) // 256 AS BIGINT) AS ls
        |  FROM c WHERE n > 0),
        |x AS (SELECT p.*, unnest(generate_series(fs, ls)) AS seq_id FROM p)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE fs < seq_id) AS BIGINT) AS n_carried,
        |  CAST(sum(least((seq_id + 1) * 256, st + n)
        |    - greatest(seq_id * 256, st)) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(least((seq_id + 1) * 256, st + n)
        |    - greatest(seq_id * 256, st)) AS DOUBLE) / 256.0, 6) AS fill_ratio
        |FROM x GROUP BY 1""".stripMargin,
    "q241_cdc_dup_chunks" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |p AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
         |      i -> struct_pack(pos := i, tok := t[i]))) AS s
         |  FROM toks WHERE len(t) > 0),
         |e AS (SELECT doc_id, s.pos AS pos, s.tok AS tok,
         |    CASE WHEN (${hash31Sql("s.tok")}) % 16 = 0 THEN 1 ELSE 0 END AS b
         |  FROM p),
         |cid AS (SELECT doc_id, pos, tok,
         |    CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS chunk_idx
         |  FROM e),
         |ch AS (SELECT doc_id, chunk_idx,
         |    CAST(count(*) AS BIGINT) AS n_chunk_tokens,
         |    string_agg(tok, ' ' ORDER BY pos) AS chunk_text
         |  FROM cid GROUP BY 1, 2)
         |SELECT (${hash31Sql("chunk_text")}) AS chunk_hash, n_chunk_tokens,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occurrences,
         |  min(doc_id) AS first_doc
         |FROM ch GROUP BY 1, 2
         |HAVING count(DISTINCT doc_id) >= 2""".stripMargin,
    "q240_cdc_chunks" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |p AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
         |      i -> struct_pack(pos := i, tok := t[i]))) AS s
         |  FROM toks WHERE len(t) > 0),
         |e AS (SELECT doc_id, s.pos AS pos, s.tok AS tok,
         |    CASE WHEN (${hash31Sql("s.tok")}) % 16 = 0 THEN 1 ELSE 0 END AS b
         |  FROM p),
         |cid AS (SELECT doc_id, pos, tok,
         |    CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS chunk_idx
         |  FROM e),
         |ch AS (SELECT doc_id, chunk_idx,
         |    CAST(count(*) AS BIGINT) AS n_chunk_tokens,
         |    string_agg(tok, ' ' ORDER BY pos) AS chunk_text
         |  FROM cid GROUP BY 1, 2)
         |SELECT doc_id, chunk_idx, n_chunk_tokens,
         |  (${hash31Sql("chunk_text")}) AS chunk_hash
         |FROM ch""".stripMargin,
    "q239_batch_assembly" ->
      s"""WITH RECURSIVE t AS (SELECT source,
         |    CAST(sum(len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'),
         |      x -> len(x) > 0))) AS BIGINT) AS n
         |  FROM documents GROUP BY 1),
         |o AS (SELECT source, n,
         |    CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS i FROM t),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |    CAST(sum(n) AS BIGINT) * 90 // 100 AS budget FROM t),
         |w(i, k, budget, rem, source, n, alloc) AS (
         |  SELECT CAST(0 AS BIGINT), k, budget, budget, CAST(NULL AS VARCHAR),
         |      CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM c
         |  UNION ALL
         |  SELECT o.i, w.k, w.budget,
         |    w.rem - least(o.n * 1, w.rem // (w.k - w.i)),
         |    o.source, o.n,
         |    least(o.n * 1, w.rem // (w.k - w.i))
         |  FROM w JOIN o ON o.i = w.i + 1),
         |rates AS (SELECT source,
         |    least(1000000, CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
         |      ELSE 1000000 * alloc // n END) AS ppm
         |  FROM w WHERE i > 0),
         |dd AS (SELECT doc_id, source,
         |    CAST(len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'),
         |      x -> len(x) > 0)) AS BIGINT) AS n
         |  FROM documents),
         |kept AS (SELECT doc_id, dd.n FROM dd JOIN rates USING (source)
         |  WHERE (${hash31Sql("CAST(doc_id AS VARCHAR)")}) % 1000000 < ppm),
         |r AS (SELECT doc_id, n,
         |    row_number() OVER (ORDER BY n DESC, doc_id) - 1 AS rk FROM kept),
         |a AS (SELECT n,
         |    CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8 ELSE 7 - (rk % 8) END AS shard
         |  FROM r)
         |SELECT CAST(shard AS INTEGER) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(n) AS DOUBLE) * 8.0
         |    / (SELECT CAST(sum(n) AS DOUBLE) FROM kept), 6) AS balance_ratio
         |FROM a GROUP BY 1""".stripMargin,
    "q237_unimax_allocation" ->
      """WITH RECURSIVE t AS (SELECT source,
        |    CAST(sum(len(list_filter(string_split_regex(trim(text), '[ \t\n\f\r]+'),
        |      x -> len(x) > 0))) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |o AS (SELECT source, n,
        |    CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS i FROM t),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) * 200 // 100 AS budget FROM t),
        |w(i, k, budget, rem, source, n, alloc) AS (
        |  SELECT CAST(0 AS BIGINT), k, budget, budget, CAST(NULL AS VARCHAR),
        |      CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT o.i, w.k, w.budget,
        |    w.rem - least(o.n * 2, w.rem // (w.k - w.i)),
        |    o.source, o.n,
        |    least(o.n * 2, w.rem // (w.k - w.i))
        |  FROM w JOIN o ON o.i = w.i + 1)
        |SELECT source, n AS n_tokens, alloc AS alloc_tokens,
        |  CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
        |       ELSE 1000000 * alloc // n END AS epochs_ppm,
        |  CASE WHEN budget = 0 THEN CAST(0 AS BIGINT)
        |       ELSE 1000000 * alloc // budget END AS weight_ppm
        |FROM w WHERE i > 0""".stripMargin,
    "q236_balanced_shards" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\f\r]+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |r AS (SELECT doc_id, n,
        |    row_number() OVER (ORDER BY n DESC, doc_id) - 1 AS rk
        |  FROM t),
        |a AS (SELECT n,
        |    CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8 ELSE 7 - (rk % 8) END AS shard
        |  FROM r)
        |SELECT CAST(shard AS INTEGER) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(n) AS DOUBLE) * 8.0
        |    / (SELECT CAST(sum(n) AS DOUBLE) FROM t), 6) AS balance_ratio
        |FROM a GROUP BY 1""".stripMargin,
    "q235_binary_quant_topk" -> binaryQuantOracleSql,
    "q238_binary_quant_indexed" -> binaryQuantOracleSql,
    "q211_cluster_kfold" ->
      s"""WITH RECURSIVE ${jaccardPairCtesSql(2, 0.8)},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION ALL SELECT id_b, id_a FROM jp),
         |reach(src, dst) AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
         |  FROM reach GROUP BY src),
         |dr AS (SELECT d.doc_id, coalesce(cl.rep, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
         |SELECT CAST((${hash31Sql("CAST(rep AS VARCHAR)")}) % 5 AS INTEGER)
         |    AS fold,
         |  count(*) AS n_docs, count(DISTINCT rep) AS n_clusters
         |FROM dr GROUP BY 1""".stripMargin,
    "q212_epoch_shuffle" -> {
      def epoch(e: Int) =
        s"""SELECT $e AS epoch, doc_id, shard,
           |  CAST(row_number() OVER (PARTITION BY shard
           |    ORDER BY h, doc_id) AS BIGINT) AS pos
           |FROM (SELECT doc_id,
           |    (${hash31Sql(s"'$e:' || CAST(doc_id AS VARCHAR)")}) AS h,
           |    CAST((${hash31Sql(s"'$e:' || CAST(doc_id AS VARCHAR)")}) % 8
           |      AS INTEGER) AS shard
           |  FROM documents)""".stripMargin
      s"""${epoch(1)}
         |UNION ALL
         |${epoch(2)}""".stripMargin
    },
    "q213_curriculum_interleave" ->
      """WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS round
        |  FROM documents)
        |SELECT doc_id, source, round,
        |  CAST(row_number() OVER (PARTITION BY round
        |    ORDER BY source, doc_id) AS BIGINT) AS slot
        |FROM r""".stripMargin,
    "q202_label_outliers" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
         |  FROM embeddings),
         |x AS (SELECT label, i, avg(e[i]) AS c
         |  FROM v CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
         |  GROUP BY label, i),
         |cen AS (SELECT label, list(c ORDER BY i) AS cv FROM x
         |  GROUP BY label),
         |sc AS (SELECT vec_id, v.label,
         |    round(${cosSql("v.e", "cen.cv")}, 6) AS centroid_cos
         |  FROM v JOIN cen ON v.label = cen.label)
         |SELECT vec_id, label, centroid_cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY label
         |      ORDER BY centroid_cos, vec_id) AS rn FROM sc)
         |WHERE rn <= 3""".stripMargin,
    "q203_quantile_normalize" ->
      """SELECT doc_id, source, n_chars,
        |  round(CAST(2 * rn - 1 AS DOUBLE) / (2 * n), 6) AS uniform_score
        |FROM (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)""".stripMargin,
    "q204_source_divergence" -> sourceDivergenceOracleSql("tok"),
    "q209_source_divergence_bucketed" ->
      sourceDivergenceOracleSql(s"(${hash31Sql("tok")}) % 256"),
    "q207_funnel_by_source" ->
      s"""WITH RECURSIVE $langPredCtesSql,
         |lk AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN lpred p ON d.doc_id = p.doc_id AND p.lang_pred <> 'und'),
         |nrm AS (SELECT doc_id,
         |    trim(regexp_replace(
         |      regexp_replace(lower(text), '[.,!?;:''"()\\[\\]{}]', '', 'g'),
         |      '\\s+', ' ', 'g')) AS norm
         |  FROM lk),
         |ex AS (SELECT doc_id FROM nrm
         |  WHERE doc_id IN (SELECT min(doc_id) FROM nrm GROUP BY norm)),
         |${jaccardPairCtesSql(2, 0.8)},
         |jpf AS (SELECT id_a, id_b FROM jp
         |  WHERE id_a IN (SELECT doc_id FROM ex)
         |    AND id_b IN (SELECT doc_id FROM ex)),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jpf
         |          UNION ALL SELECT id_b, id_a FROM jpf),
         |reach(src, dst) AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
         |  FROM reach GROUP BY src),
         |nu AS (SELECT e.doc_id FROM ex e LEFT JOIN cl ON e.doc_id = cl.doc_id
         |  WHERE cl.rep IS NULL OR cl.rep = e.doc_id),
         |stages AS (
         |  SELECT 0 AS stage_no, 'raw' AS stage, source,
         |    count(*) AS n_docs FROM documents GROUP BY source
         |  UNION ALL SELECT 1, 'lang_known', d.source, count(*)
         |    FROM lk JOIN documents d USING (doc_id) GROUP BY d.source
         |  UNION ALL SELECT 2, 'exact_unique', d.source, count(*)
         |    FROM ex JOIN documents d USING (doc_id) GROUP BY d.source
         |  UNION ALL SELECT 3, 'near_unique', d.source, count(*)
         |    FROM nu JOIN documents d USING (doc_id) GROUP BY d.source),
         |rawn AS (SELECT source, count(*) AS n FROM documents
         |  GROUP BY source)
         |SELECT stage_no, stage, s.source, n_docs,
         |  CAST(1000000 * n_docs // r.n AS BIGINT) AS retained_ppm
         |FROM stages s JOIN rawn r ON s.source = r.source""".stripMargin,
    "q208_incremental_split" ->
      s"""WITH RECURSIVE ${shingleCtesSql(2)},
         |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id < 250),
         |batch AS (SELECT doc_id, s FROM sh WHERE doc_id >= 250),
         |cinter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_filter(a.s, x -> list_contains(b.s, x))) AS ninter,
         |    len(a.s) AS na, len(b.s) AS nb
         |  FROM corpus a JOIN corpus b ON a.doc_id < b.doc_id),
         |cjp AS (SELECT id_a, id_b FROM cinter WHERE na + nb > 0 AND
         |  CAST(ninter AS DOUBLE) / (na + nb - ninter) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM cjp
         |          UNION ALL SELECT id_b, id_a FROM cjp),
         |reach(src, dst) AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
         |  FROM reach GROUP BY src),
         |bm AS (SELECT b.doc_id AS bid, c.doc_id AS cid
         |  FROM batch b JOIN corpus c ON len(b.s) + len(c.s) > 0 AND
         |    CAST(len(list_filter(b.s, x -> list_contains(c.s, x))) AS DOUBLE)
         |      / (len(b.s) + len(c.s)
         |         - len(list_filter(b.s, x -> list_contains(c.s, x))))
         |      >= 0.8),
         |br AS (SELECT bid, min(coalesce(cl.rep, bm.cid)) AS rep
         |  FROM bm LEFT JOIN cl ON bm.cid = cl.doc_id GROUP BY bid)
         |SELECT d.doc_id, coalesce(br.rep, d.doc_id) AS split_key,
         |  ${splitCaseSql("CAST(coalesce(br.rep, d.doc_id) AS VARCHAR)", 80, 10)}
         |    AS split
         |FROM documents d LEFT JOIN br ON d.doc_id = br.bid
         |WHERE d.doc_id >= 250""".stripMargin,
    "q205_cross_source_neardups" ->
      s"""WITH ${jaccardPairCtesSql(2, 0.8)},
         |lab AS (SELECT da.source AS sa, db.source AS sb FROM jp
         |  JOIN documents da ON jp.id_a = da.doc_id
         |  JOIN documents db ON jp.id_b = db.doc_id)
         |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
         |  count(*) AS n_pairs
         |FROM lab GROUP BY least(sa, sb), greatest(sa, sb)""".stripMargin,
    "q206_cube_summary" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
        |FROM documents GROUP BY CUBE(lang, source)""".stripMargin,
    "q172_fuzzy_part_pairs" ->
      s"""WITH $jwPairCtesSql
         |SELECT name_a, name_b, jw FROM jwp""".stripMargin,
    "q174_fuzzy_name_clusters" ->
      // q38's recursive-closure clustering over the q172 fuzzy pairs,
      // on portable-hashed name ids (min-hash rep; both engines hash
      // identically so even a collision would agree)
      s"""WITH RECURSIVE $jwPairCtesSql,
         |hp AS (SELECT (${hash31Sql("name_a")}) AS ha,
         |    (${hash31Sql("name_b")}) AS hb FROM jwp),
         |edges AS (SELECT ha AS src, hb AS dst FROM hp
         |          UNION ALL SELECT hb, ha FROM hp),
         |reach(src, dst) AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS h, least(src, min(dst)) AS rep
         |  FROM reach GROUP BY src),
         |nm AS (SELECT s, (${hash31Sql("s")}) AS h FROM names)
         |SELECT nm.s AS p_name, rn.s AS rep_name
         |FROM cl JOIN nm ON cl.h = nm.h JOIN nm rn ON cl.rep = rn.h""".stripMargin,
    "q175_stratified_ksample" ->
      s"""WITH scored AS (SELECT doc_id, source,
         |    (${hash31Sql("CAST(doc_id AS VARCHAR)")}) AS rank_key
         |  FROM documents),
         |ranked AS (SELECT doc_id, source, rank_key,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY rank_key, doc_id) AS rn
         |  FROM scored)
         |SELECT doc_id, source, rank_key FROM ranked WHERE rn <= 5""".stripMargin,
    "q176_containment_pairs" ->
      s"""WITH tdocs AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |rel AS (SELECT doc_id, tk FROM tdocs
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |    list_slice(tk, 1, greatest(len(tk) // 2, 1)) AS tk
         |  FROM tdocs),
         |shd AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         |    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) END AS s
         |  FROM rel),
         |hh AS (SELECT doc_id,
         |    list_sort(list_distinct(list_transform(s,
         |      x -> (${hash31Sql("x")})))) AS h
         |  FROM shd WHERE len(s) > 0),
         |anchors AS (SELECT id_a, key FROM (
         |    SELECT doc_id AS id_a, h[1] AS key,
         |      row_number() OVER (PARTITION BY h[1] ORDER BY doc_id) AS rn
         |    FROM hh) WHERE rn <= 10000),
         |probes AS (SELECT id_b, key FROM (
         |    SELECT doc_id AS id_b, key,
         |      row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn
         |    FROM (SELECT doc_id, unnest(h) AS key FROM hh))
         |  WHERE rn <= 10000),
         |cand AS (SELECT DISTINCT id_a, id_b
         |  FROM anchors JOIN probes USING (key) WHERE id_a != id_b),
         |res AS (SELECT id_a, id_b,
         |    round(CAST(len(list_filter(a.h, x -> list_contains(b.h, x)))
         |      AS DOUBLE) / len(a.h), 6) AS containment
         |  FROM cand JOIN hh a ON cand.id_a = a.doc_id
         |    JOIN hh b ON cand.id_b = b.doc_id)
         |SELECT id_a, id_b, containment FROM res
         |WHERE containment >= 0.9""".stripMargin,
    "q177_ngram_novelty" ->
      s"""WITH toks AS (SELECT doc_id,
         |    source IN ('src1', 'src2', 'src3') AS ref, $toksSql AS tk
         |  FROM documents),
         |shd AS (SELECT doc_id, ref, CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         |    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) END AS s
         |  FROM toks),
         |g AS (SELECT DISTINCT doc_id, ref, g FROM
         |  (SELECT doc_id, ref,
         |     unnest(list_transform(s, x -> (${hash31Sql("x")}))) AS g
         |   FROM shd)),
         |rg AS (SELECT DISTINCT g FROM g WHERE ref),
         |j AS (SELECT doc_id, g.g,
         |    CASE WHEN rg.g IS NULL THEN 1 ELSE 0 END AS novel
         |  FROM g LEFT JOIN rg ON g.g = rg.g)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(novel) AS BIGINT) AS n_novel,
         |  round(CAST(sum(novel) AS DOUBLE) / count(*), 6) AS novelty
         |FROM j GROUP BY doc_id""".stripMargin,
    "q178_curation_pipeline" ->
      s"""WITH $dsirCtesSql,
         |thr AS (SELECT round(quantile_cont(dsir_ppm, 0.75), 6) AS thr
         |  FROM dw),
         |sel AS (SELECT d.doc_id, d.source
         |  FROM dw JOIN documents d USING (doc_id) CROSS JOIN thr
         |  WHERE dsir_ppm > thr),
         |counts AS (SELECT source, CAST(count(*) AS BIGINT) AS nd
         |  FROM sel GROUP BY 1),
         |tot2 AS (SELECT CAST(count(*) AS BIGINT) AS total FROM sel),
         |s2 AS (SELECT source, nd,
         |    CAST(floor(sqrt(CAST(nd AS DOUBLE) * 1000000)) AS BIGINT) AS sd
         |  FROM counts),
         |ss2 AS (SELECT CAST(sum(sd) AS BIGINT) AS ssum FROM s2),
         |rates AS (SELECT source,
         |    LEAST(1000000, (((total * 60) // 100) *
         |      ((1000000 * sd) // ssum)) // nd) AS ppm
         |  FROM s2 CROSS JOIN tot2 CROSS JOIN ss2),
         |kept AS (SELECT sel.source, sel.doc_id
         |  FROM sel JOIN rates USING (source)
         |  WHERE (${hash31Sql("CAST(doc_id AS VARCHAR)")}) % 1000000 < ppm)
         |SELECT source, count(*) AS n_kept, bit_xor(doc_id) AS id_checksum
         |FROM kept GROUP BY 1""".stripMargin,
    "q173_temperature_mixture" ->
      s"""WITH counts AS (SELECT source, CAST(count(*) AS BIGINT) AS nd
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
         |s AS (SELECT source, nd,
         |    CAST(floor(sqrt(CAST(nd AS DOUBLE) * 1000000)) AS BIGINT) AS sd
         |  FROM counts),
         |ss AS (SELECT CAST(sum(sd) AS BIGINT) AS ssum FROM s),
         |rates AS (SELECT source,
         |    LEAST(1000000, (((total * 60) // 100) *
         |      ((1000000 * sd) // ssum)) // nd) AS ppm
         |  FROM s CROSS JOIN tot CROSS JOIN ss),
         |kept AS (SELECT d.source, d.doc_id
         |  FROM documents d JOIN rates USING (source)
         |  WHERE (${hash31Sql("CAST(doc_id AS VARCHAR)")}) % 1000000 < ppm)
         |SELECT source, count(*) AS n_kept, bit_xor(doc_id) AS id_checksum
         |FROM kept GROUP BY 1""".stripMargin)

  /** Shared DSIR CTE chain (q169/q170), mirroring `Sampling.dsirWeights`
    * over the documents table with target = source ∈ {src1, src2, src3}
    * and B = 1024 buckets: hashed unigram+bigram buckets → per-(doc,
    * bucket) counts → ppm-snapped λ table → exact-integer per-doc
    * weights. Final CTE: `dw(doc_id, n_feats, dsir_ppm, dsir_avg)`.
    */
  private lazy val dsirCtesSql: String = {
    val b = 1024
    s"""dt AS (SELECT doc_id, source IN ('src1', 'src2', 'src3') AS tgt,
       |    $toksSql AS tk FROM documents),
       |feat AS (SELECT doc_id, tgt, unnest(list_concat(
       |    list_transform(tk, t -> (${hash31Sql("t")}) % $b),
       |    CASE WHEN len(tk) < 2 THEN []::BIGINT[]
       |         ELSE list_transform(range(1, len(tk)),
       |           i -> (${hash31Sql("tk[i] || ' ' || tk[i + 1]")}) % $b)
       |    END)) AS fb
       |  FROM dt),
       |bc AS (SELECT doc_id, tgt, fb, CAST(count(*) AS BIGINT) AS c
       |  FROM feat GROUP BY 1, 2, 3),
       |tot AS (SELECT
       |    CAST(sum(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS tt,
       |    CAST(sum(c) AS BIGINT) AS rr FROM bc),
       |rawb AS (SELECT fb, CAST(sum(c) AS BIGINT) AS rn FROM bc GROUP BY 1),
       |tgtb AS (SELECT fb, CAST(sum(c) AS BIGINT) AS tn FROM bc
       |  WHERE tgt GROUP BY 1),
       |lam AS (SELECT fb, CAST(round((
       |      ln(CAST(coalesce(tn, 0) + 1 AS DOUBLE) / CAST(tt + $b AS DOUBLE))
       |      - ln(CAST(rn + 1 AS DOUBLE) / CAST(rr + $b AS DOUBLE))
       |    ) * 1000000e0) AS BIGINT) AS lam_ppm
       |  FROM rawb LEFT JOIN tgtb USING (fb) CROSS JOIN tot),
       |dw AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
       |    CAST(sum(c * lam_ppm) AS BIGINT) AS dsir_ppm,
       |    round(CAST(sum(c * lam_ppm) AS DOUBLE) /
       |      CAST(sum(c) * 1000000 AS DOUBLE), 6) AS dsir_avg
       |  FROM bc JOIN lam USING (fb) GROUP BY doc_id)""".stripMargin
  }

  /** Shared q172/q174 CTE chain: distinct part names, first-token
    * equality blocking, Jaro-Winkler-verified pairs (rounded to 6 BEFORE
    * the threshold). Emits `blocked(s, blk)` and
    * `jwp(name_a, name_b, jw)`.
    */
  private lazy val jwPairCtesSql: String =
    """names AS (SELECT DISTINCT p_name AS s FROM part
      |  WHERE p_name IS NOT NULL),
      |keyed AS (SELECT s, blk FROM (
      |    SELECT s, 't:' ||
      |      list_filter(string_split_regex(trim(s), '[ \t\n\f\r]+'),
      |        x -> len(x) > 0)[1] AS blk
      |    FROM names
      |    UNION ALL
      |    SELECT s, CASE WHEN len(trim(s)) > 0 THEN
      |        'p' || ':' || substr(trim(s), 1, 2) || ':' ||
      |        CAST(len(trim(s)) // 4 AS VARCHAR) END AS blk
      |    FROM names)
      |  WHERE blk IS NOT NULL),
      |blocked AS (SELECT s, blk FROM (SELECT s, blk,
      |    row_number() OVER (PARTITION BY blk ORDER BY s) AS rn
      |  FROM keyed) WHERE rn <= 10000),
      |cand AS (SELECT DISTINCT a.s AS name_a, b.s AS name_b
      |  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.s < b.s),
      |jwp AS (SELECT name_a, name_b,
      |    round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
      |  FROM cand
      |  WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.85)""".stripMargin

  /** q171's unrolled-BPE oracle, GENERATED per round from one Scala loop
    * (q120's zorder2Sql discipline — zero drift surface vs
    * `TextAnalysis.bpeTrainMerges`). AS MATERIALIZED on every layer: each
    * references its predecessor more than once (the q136 2^N landmine).
    * `s[2:-2]` strips the outer delimiters; `replace` scans left-to-right
    * non-overlapping — identical greedy-merge semantics to Spark's.
    */
  private def bpeCtesSql(rounds: Int): String = {
    val layers = (1 to rounds).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT tk[i] AS l, tk[i + 1] AS r, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, tk, unnest(range(1, len(tk))) AS i
         |        FROM (SELECT n, string_split(s[2:-2], '||') AS tk
         |              FROM w${k - 1}))
         |  GROUP BY 1, 2),
         |m$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT w, replace(s, '|' || l || '||' || r || '|',
         |    '|' || l || r || '|') AS s, n
         |  FROM w${k - 1} CROSS JOIN m$k)""".stripMargin
    }.mkString(",\n")
    // NOTE: this pre-stripped string is re-embedded in stripMargin
    // callers — no line here may START with '|' after stripping, or the
    // caller's stripMargin eats it (hence '||' stays at end of line)
    s"""w0 AS MATERIALIZED (
       |  SELECT w, '|' || array_to_string(
       |      list_filter(string_split(w, ''), c -> len(c) > 0), '||') ||
       |      '|' AS s, n
       |  FROM (SELECT w, CAST(count(*) AS BIGINT) AS n
       |        FROM (SELECT unnest($toksSql) AS w FROM documents)
       |        WHERE NOT contains(w, '|') GROUP BY w)),
       |$layers""".stripMargin
  }

  private def bpeOracleSql(rounds: Int): String = {
    val unions = (1 to rounds).map(k =>
      s"SELECT CAST($k AS INTEGER) AS merge_round, l AS lhs, r AS rhs, " +
        s"cnt AS pair_count FROM m$k")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeCtesSql(rounds)}
       |SELECT * FROM (
       |  $unions)""".stripMargin
  }

  /** q179: encode the corpus with the just-trained merge table (w$rounds
    * IS the encoded vocabulary) and roll up per-document segmentation
    * stats.
    */
  private def bpeEncodeOracleSql(rounds: Int): String =
    s"""WITH ${bpeCtesSql(rounds)},
       |docw AS (SELECT doc_id, w FROM
       |  (SELECT doc_id, unnest($toksSql) AS w FROM documents)
       |  WHERE NOT contains(w, '|')),
       |enc AS (SELECT w,
       |    CAST(len(string_split(s[2:-2], '||')) AS BIGINT) AS nsym,
       |    CAST(len(w) AS BIGINT) AS nch
       |  FROM w$rounds)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(nsym) AS BIGINT) AS n_symbols,
       |  CAST(sum(nch) AS BIGINT) AS n_chars,
       |  round(CAST(sum(nsym) AS DOUBLE) / CAST(sum(nch) AS DOUBLE), 6)
       |    AS symbols_per_char
       |FROM docw JOIN enc USING (w) GROUP BY doc_id""".stripMargin

  /** q149's BM25 top-20 (also the sparse leg of q155's hybrid fusion).
    * Numeric literals carry e0 so DuckDB parses DOUBLE, not DECIMAL (the
    * q136 IEEE-divergence landmine); k1=1.2, b=0.75.
    */
  private lazy val bm25TopSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tfc AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tfc GROUP BY doc_id),
       |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
       |  FROM documents),
       |tot AS (SELECT CAST(coalesce(sum(tf), 0) AS DOUBLE) AS tot FROM tfc),
       |qtf AS (SELECT * FROM tfc WHERE term IN ('dup', 'vector', 'scan')),
       |dfc AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
       |scored AS (
       |  SELECT qtf.doc_id,
       |    ln(1e0 + (n_docs - df + 0.5e0) / (df + 0.5e0)) *
       |      (tf * 2.2e0) /
       |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / (tot / n_docs))) AS s
       |  FROM qtf JOIN dl USING (doc_id) JOIN dfc USING (term)
       |  CROSS JOIN n CROSS JOIN tot)
       |SELECT doc_id, round(sum(s), 6) AS bm25 FROM scored
       |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** Shared CTE chain for q153/q154 — positional 3-gram md5 fingerprints
    * over [[pairInjectedDocs]], hot-gram cap at 20 occurrences, hash
    * self-join to diagonal match points, island split (final CTE `d`:
    * doc_a, doc_b, pos_a, pos_b, diag, grp).
    */
  private lazy val dupSpanCtesSql: String = {
    val shingle = "t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]"
    s"""base AS (SELECT doc_id,
       |    'px' || CAST(doc_id // 2 AS VARCHAR) || ' qx' ||
       |    CAST(doc_id // 2 AS VARCHAR) || ' rx' ||
       |    CAST(doc_id // 2 AS VARCHAR) || ' sx' ||
       |    CAST(doc_id // 2 AS VARCHAR) || ' tx' ||
       |    CAST(doc_id // 2 AS VARCHAR) || ' ' || text AS text
       |  FROM documents),
       |toks AS (SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS t
       |  FROM base),
       |pos AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
       |  FROM toks WHERE len(t) >= 3),
       |gr AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
       |    ${hash31Sql(shingle)} AS h
       |  FROM pos),
       |hot AS (SELECT h FROM gr GROUP BY h HAVING count(*) > 20),
       |m AS (SELECT a.doc_id AS doc_a, a.pos AS pos_a,
       |    b.doc_id AS doc_b, b.pos AS pos_b
       |  FROM gr a JOIN gr b ON a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE a.h NOT IN (SELECT h FROM hot)),
       |d AS (SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
       |    pos_a - row_number() OVER (
       |      PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
       |  FROM m)""".stripMargin
  }

  /** q137's oracle: the MMR greedy unrolled to k materialized layers —
    * layer i cross-joins the (1-row) previous selections, recomputes the
    * penalty as the max of round-6 pairwise cosines, and takes the
    * round-6-score argmax with id tiebreak, exactly as
    * `Similarity.mmrSelect` does distributed. λ and 1−λ are rendered from
    * the same Scala doubles the Spark side puts in `lit(...)`.
    */
  private def mmrOracleSql(queryId: Long, k: Int, lambda: Double,
                           poolSize: Int): String = {
    val l = s"(${lambda.toString})::DOUBLE"
    val om = s"(${(1.0 - lambda).toString})::DOUBLE"
    val header =
      s"""v AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |q AS MATERIALIZED (SELECT e AS qe FROM v WHERE vec_id = $queryId),
         |pool AS MATERIALIZED (
         |  SELECT vec_id, e, round(${cosSql("e", "qe")}, 6) AS simq
         |  FROM v, q WHERE vec_id <> $queryId
         |  ORDER BY simq DESC, vec_id LIMIT $poolSize)""".stripMargin
    val layers = (1 to k).map { i =>
      val froms = (1 until i).map(j => s", sel$j s$j").mkString
      val excl = (1 until i).map(j => s"p.vec_id <> s$j.vec_id")
        .mkString(" AND ")
      val pens = (1 until i).map(j => s"round(${cosSql("p.e", s"s$j.e")}, 6)")
      val pen =
        if (pens.isEmpty) "(0.0)::DOUBLE"
        else if (pens.size == 1) pens.head
        else s"greatest(${pens.mkString(", ")})"
      s"""sel$i AS MATERIALIZED (
         |  SELECT p.vec_id, p.e,
         |    round($l * p.simq - $om * $pen, 6) AS score
         |  FROM pool p$froms
         |  ${if (excl.nonEmpty) s"WHERE $excl" else ""}
         |  ORDER BY score DESC, p.vec_id LIMIT 1)""".stripMargin
    }
    val unions = (1 to k)
      .map(i => s"SELECT $i AS pick, vec_id, score AS mmr_score FROM sel$i")
      .mkString("\nUNION ALL\n")
    s"WITH ${(header +: layers).mkString(",\n")}\n$unions"
  }

  /** Shared by q128 (inline assignment) and q131 (persisted flat index) —
    * q37's assign CTEs + per-probe routing (rounded rank, cell_id
    * tiebreak — the nearestCells discipline) + per-probe top-3.
    */
  private lazy val ivfBatchOracleSql =
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cent AS (SELECT CAST(vec_id // 97 AS INTEGER) AS cell_id, e AS c
         |  FROM v WHERE vec_id % 97 = 0),
         |scored AS (SELECT v.vec_id, cent.cell_id,
         |    round(${cosSql("v.e", "cent.c")}, 6) AS sim
         |  FROM v CROSS JOIN cent),
         |assign AS (SELECT vec_id, cell_id FROM (
         |    SELECT vec_id, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
         |    FROM scored) WHERE rn = 1),
         |probes AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < 50),
         |proute AS (SELECT probe_id, cell_id, pe FROM (
         |    SELECT p.probe_id, cent.cell_id, p.pe,
         |      row_number() OVER (PARTITION BY p.probe_id
         |        ORDER BY round(${cosSql("cent.c", "p.pe")}, 6) DESC, cent.cell_id) AS rn
         |    FROM probes p CROSS JOIN cent) WHERE rn <= 2),
         |cand AS (SELECT pr.probe_id, v.vec_id,
         |    ${cosSql("v.e", "pr.pe")} AS sim
         |  FROM v JOIN assign a USING (vec_id)
         |  JOIN proute pr ON a.cell_id = pr.cell_id
         |  WHERE v.vec_id <> pr.probe_id)
         |SELECT probe_id, vec_id, sim FROM (
         |  SELECT probe_id, vec_id, sim,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM cand) WHERE rn <= 3""".stripMargin

  /** q129: q125's residual/encode CTEs (every vector coded ONCE, as the
    * index stores them) + q128's per-probe routing; ADC runs against the
    * probe's residual in the candidate's cell.
    */
  /** The residual batch chain through `adc(probe_id, vec_id, adc_dist)` —
    * shared by q129's plain top-3 tail and q140's re-rank tail.
    */
  private lazy val ivfPqBatchAdcCtesSql =
      s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cent AS (SELECT CAST(vec_id // 97 AS INTEGER) AS cell_id, e AS c
         |  FROM v WHERE vec_id % 97 = 0),
         |scored AS (SELECT v.vec_id, cent.cell_id,
         |    round(${cosSql("v.e", "cent.c")}, 6) AS sim
         |  FROM v CROSS JOIN cent),
         |assign AS (SELECT vec_id, cell_id FROM (
         |    SELECT vec_id, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
         |    FROM scored) WHERE rn = 1),
         |rv AS (SELECT v.vec_id, a.cell_id,
         |    list_transform(range(1, 65), i -> v.e[i] - cent.c[i]) AS r
         |  FROM v JOIN assign a USING (vec_id)
         |  JOIN cent ON a.cell_id = cent.cell_id),
         |cents AS (SELECT CAST(vec_id // 37 AS INTEGER) AS cid, r AS c
         |  FROM rv WHERE vec_id % 37 = 0 AND vec_id // 37 < 16),
         |cl AS (SELECT list(struct_pack(cid := cid, c := c) ORDER BY cid) AS cents,
         |       CAST(len(min(c)) // 4 AS INTEGER) AS sub FROM cents),
         |enc AS (SELECT vec_id, cell_id, cents, sub,
         |  list_transform(range(0, 4), j ->
         |    CAST(list_sort(list_transform(cents, cc ->
         |      [round(list_sum(list_transform(range(1, sub + 1),
         |         i -> (rv.r[j*sub+i] - cc.c[j*sub+i]) * (rv.r[j*sub+i] - cc.c[j*sub+i]))), 6),
         |       CAST(cc.cid AS DOUBLE)]))[1][2] AS INTEGER)) AS codes
         |  FROM rv, cl),
         |probes AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < 50),
         |proute AS (SELECT probe_id, cell_id, pe FROM (
         |    SELECT p.probe_id, cent.cell_id, p.pe,
         |      row_number() OVER (PARTITION BY p.probe_id
         |        ORDER BY round(${cosSql("cent.c", "p.pe")}, 6) DESC, cent.cell_id) AS rn
         |    FROM probes p CROSS JOIN cent) WHERE rn <= 2),
         |qr AS (SELECT pr.probe_id, pr.cell_id,
         |    list_transform(range(1, 65), i -> pr.pe[i] - cent.c[i]) AS qr
         |  FROM proute pr JOIN cent USING (cell_id)),
         |adc AS (SELECT qr.probe_id, enc.vec_id,
         |    round(list_sum(list_transform(range(0, 4), j ->
         |      list_sum(list_transform(range(1, sub + 1),
         |        i -> (qr.qr[j*sub+i] - cents[codes[j+1] + 1].c[j*sub+i])
         |           * (qr.qr[j*sub+i] - cents[codes[j+1] + 1].c[j*sub+i]))))), 6) AS adc_dist
         |  FROM enc JOIN qr USING (cell_id)
         |  WHERE enc.vec_id <> qr.probe_id)""".stripMargin

  private lazy val ivfPqBatchOracleSql =
    s"""WITH $ivfPqBatchAdcCtesSql
       |SELECT probe_id, vec_id, adc_dist FROM (
       |  SELECT probe_id, vec_id, adc_dist,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY adc_dist, vec_id) AS rn
       |  FROM adc) WHERE rn <= 3""".stripMargin

  /** q140: the batch ADC chain, per-probe top-20 shortlist, exact-cosine
    * re-rank to 3 — `Similarity.ivfPqTopKBatchRefined` verbatim.
    */
  private lazy val ivfPqBatchRefineOracleSql =
    s"""WITH $ivfPqBatchAdcCtesSql,
       |short AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY adc_dist, vec_id) AS rn
       |    FROM adc) WHERE rn <= 20),
       |rr AS (SELECT s.probe_id, s.vec_id,
       |    round(${cosSql("cv.e", "p.pe")}, 6) AS sim
       |  FROM short s JOIN v cv ON s.vec_id = cv.vec_id
       |  JOIN probes p ON s.probe_id = p.probe_id)
       |SELECT probe_id, vec_id, sim FROM (
       |  SELECT probe_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM rr) WHERE rn <= 3""".stripMargin

  /** Shared by q124 (inline encode) and q126 (persisted PQ-codes index) —
    * both raw-vector IVF-PQ tiers must return identical neighbors:
    * q37's assign/probe CTEs + q119's codebook/encode CTEs, ADC-ranked.
    */
  /** The q124 family's assign → route → encode → ADC CTE chain, ending in
    * `adc(vec_id, adc_dist)` — shared by the plain top-k tail
    * (q124/q126/q130) and q139's re-rank tail.
    */
  private lazy val ivfPqAdcCtesSql =
      s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cent AS (SELECT CAST(vec_id // 97 AS INTEGER) AS cell_id, e AS c
         |  FROM v WHERE vec_id % 97 = 0),
         |scored AS (SELECT v.vec_id, cent.cell_id,
         |    round(${cosSql("v.e", "cent.c")}, 6) AS sim
         |  FROM v CROSS JOIN cent),
         |assign AS (SELECT vec_id, cell_id FROM (
         |    SELECT vec_id, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
         |    FROM scored) WHERE rn = 1),
         |q AS (SELECT e AS p FROM v WHERE vec_id = 1),
         |qc AS (SELECT cell_id FROM cent, q
         |  ORDER BY round(${cosSql("c", "p")}, 6) DESC, cell_id LIMIT 2),
         |cents AS (SELECT CAST(vec_id // 37 AS INTEGER) AS cid, e AS c
         |  FROM v WHERE vec_id % 37 = 0 AND vec_id // 37 < 16),
         |cl AS (SELECT list(struct_pack(cid := cid, c := c) ORDER BY cid) AS cents,
         |       CAST(len(min(c)) // 4 AS INTEGER) AS sub FROM cents),
         |cand AS (SELECT v.vec_id, v.e FROM v
         |  JOIN assign USING (vec_id) JOIN qc USING (cell_id)
         |  WHERE v.vec_id <> 1),
         |enc AS (SELECT vec_id, cents, sub, p,
         |  list_transform(range(0, 4), j ->
         |    CAST(list_sort(list_transform(cents, cc ->
         |      [round(list_sum(list_transform(range(1, sub + 1),
         |         i -> (cand.e[j*sub+i] - cc.c[j*sub+i]) * (cand.e[j*sub+i] - cc.c[j*sub+i]))), 6),
         |       CAST(cc.cid AS DOUBLE)]))[1][2] AS INTEGER)) AS codes
         |  FROM cand, cl, q),
         |adc AS (SELECT vec_id, round(list_sum(list_transform(range(0, 4), j ->
         |    list_sum(list_transform(range(1, sub + 1),
         |      i -> (p[j*sub+i] - cents[codes[j+1] + 1].c[j*sub+i])
         |         * (p[j*sub+i] - cents[codes[j+1] + 1].c[j*sub+i]))))), 6) AS adc_dist
         |  FROM enc)""".stripMargin

  private lazy val ivfPqOracleSql =
    s"""WITH $ivfPqAdcCtesSql
       |SELECT vec_id, adc_dist FROM adc
       |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin

  /** q139: the same ADC chain, LIMIT 50 shortlist, exact-cosine re-rank
    * to 10 — `Similarity.ivfPqTopKRefined`'s two stages verbatim.
    */
  private lazy val ivfPqRefineOracleSql =
    s"""WITH $ivfPqAdcCtesSql,
       |short AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 50)
       |SELECT v.vec_id, round(${cosSql("v.e", "q.p")}, 6) AS sim
       |FROM v JOIN short USING (vec_id) CROSS JOIN q
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** Shared by q125 (inline) and q127 (persisted index) — q124's routing
    * CTEs + residual construction; codes/ADC run in residual space against
    * the per-probed-cell query residual.
    */
  private lazy val ivfPqResidualOracleSql =
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cent AS (SELECT CAST(vec_id // 97 AS INTEGER) AS cell_id, e AS c
         |  FROM v WHERE vec_id % 97 = 0),
         |scored AS (SELECT v.vec_id, cent.cell_id,
         |    round(${cosSql("v.e", "cent.c")}, 6) AS sim
         |  FROM v CROSS JOIN cent),
         |assign AS (SELECT vec_id, cell_id FROM (
         |    SELECT vec_id, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
         |    FROM scored) WHERE rn = 1),
         |rv AS (SELECT v.vec_id, a.cell_id,
         |    list_transform(range(1, 65), i -> v.e[i] - cent.c[i]) AS r
         |  FROM v JOIN assign a USING (vec_id)
         |  JOIN cent ON a.cell_id = cent.cell_id),
         |q AS (SELECT e AS p FROM v WHERE vec_id = 1),
         |qc AS (SELECT cell_id FROM cent, q
         |  ORDER BY round(${cosSql("c", "p")}, 6) DESC, cell_id LIMIT 2),
         |cents AS (SELECT CAST(vec_id // 37 AS INTEGER) AS cid, r AS c
         |  FROM rv WHERE vec_id % 37 = 0 AND vec_id // 37 < 16),
         |cl AS (SELECT list(struct_pack(cid := cid, c := c) ORDER BY cid) AS cents,
         |       CAST(len(min(c)) // 4 AS INTEGER) AS sub FROM cents),
         |qr AS (SELECT cent.cell_id,
         |    list_transform(range(1, 65), i -> q.p[i] - cent.c[i]) AS qr
         |  FROM cent JOIN qc USING (cell_id), q),
         |cand AS (SELECT rv.vec_id, rv.r, qr.qr FROM rv
         |  JOIN qc USING (cell_id) JOIN qr USING (cell_id)
         |  WHERE rv.vec_id <> 1),
         |enc AS (SELECT vec_id, qr, cents, sub,
         |  list_transform(range(0, 4), j ->
         |    CAST(list_sort(list_transform(cents, cc ->
         |      [round(list_sum(list_transform(range(1, sub + 1),
         |         i -> (cand.r[j*sub+i] - cc.c[j*sub+i]) * (cand.r[j*sub+i] - cc.c[j*sub+i]))), 6),
         |       CAST(cc.cid AS DOUBLE)]))[1][2] AS INTEGER)) AS codes
         |  FROM cand, cl)
         |SELECT vec_id, round(list_sum(list_transform(range(0, 4), j ->
         |    list_sum(list_transform(range(1, sub + 1),
         |      i -> (qr[j*sub+i] - cents[codes[j+1] + 1].c[j*sub+i])
         |         * (qr[j*sub+i] - cents[codes[j+1] + 1].c[j*sub+i]))))), 6) AS adc_dist
         |FROM enc ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin

  /** q24's feature relation — shared verbatim by q115's logistic scorer
    * and (via the `src` parameter) the q123 capstone, so the feature
    * formulas cannot drift between oracles (they all mirror
    * TextAnalysis.qualityScore). `src` must expose (doc_id, text).
    */
  private def qualityFeaturesSqlFrom(src: String): String =
    s"""SELECT doc_id,
       |  CAST(len($toksSql) AS DOUBLE) AS n_tokens,
       |  CASE WHEN len($toksSql) = 0 THEN 0.0
       |       ELSE len(regexp_replace(text, '\\s', '', 'g')) / CAST(len($toksSql) AS DOUBLE)
       |  END AS mean_token_len,
       |  CASE WHEN len($toksSql) = 0 THEN 0.0
       |       ELSE CAST(len(list_filter(list_distinct($toksSql),
       |                 x -> list_contains([${TextAnalysis.stopwords.map("'" + _ + "'").mkString(",")}], x))) AS DOUBLE)
       |            / len($toksSql)
       |  END AS stopword_ratio,
       |  CASE WHEN len(text) = 0 THEN 0.0
       |       ELSE (len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')))
       |            / CAST(len(text) AS DOUBLE)
       |  END AS punct_ratio
       |FROM $src""".stripMargin

  private lazy val qualityFeaturesSql: String = qualityFeaturesSqlFrom("documents")

  /** The q112/q269 injected-PII corpus as SQL — mirrors piiInjectedDocs
    * verbatim (one source of truth for the synthetic layer).
    */
  // NOTE: embedded into s"""…""".stripMargin oracles — no line here may
  // start (after whitespace) with '|', or the OUTER stripMargin eats it
  private lazy val piiInjectedCteSql: String =
    """SELECT doc_id, source, lang, n_chars, text ||
      |    CASE WHEN doc_id % 3 = 0
      |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
      |              '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |         ELSE '' END AS t
      |  FROM documents""".stripMargin

  /** Unrolled DuckDB mirror of Sampling.greedySourceCoverage: `rounds`
    * greedy layers, each picking the argmax-marginal source (m DESC,
    * source tiebreak) against the union of previously covered shingle
    * hashes, then folding its hashes into the covered set.
    */
  private def greedyCoverageOracleSql(k: Int, rounds: Int): String = {
    val layers = (1 to rounds).map { r =>
      val where =
        if (r == 1) ""
        else {
          val np = (1 until r).map(i => s"SELECT source FROM p$i")
            .mkString(" UNION ALL ")
          s"""  WHERE source NOT IN ($np)
             |    AND h NOT IN (SELECT h FROM c${r - 1})
             |""".stripMargin
        }
      val cov =
        if (r == 1)
          "SELECT DISTINCT h FROM ssh WHERE source IN (SELECT source FROM p1)"
        else
          s"SELECT h FROM c${r - 1} UNION " +
            s"SELECT h FROM ssh WHERE source IN (SELECT source FROM p$r)"
      s"""m$r AS (SELECT source, CAST(count(*) AS BIGINT) AS m FROM ssh
         |$where  GROUP BY source),
         |p$r AS MATERIALIZED (SELECT source, m FROM m$r
         |  ORDER BY m DESC, source LIMIT 1),
         |c$r AS MATERIALIZED ($cov)""".stripMargin
    }
    val sel = (1 to rounds)
      .map(r => s"SELECT $r AS round, source, m FROM p$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ${shingleCtesSql(k)},
       |sfx AS (SELECT d.source, unnest(s) AS sg FROM sh
       |  JOIN documents d ON sh.doc_id = d.doc_id),
       |ssh AS MATERIALIZED (SELECT DISTINCT source, ${hash31Sql("sg")}
       |    AS h FROM sfx),
       |${layers.mkString(",\n")},
       |sel AS ($sel)
       |SELECT round, source, m AS new_shingles,
       |  CAST(sum(m) OVER (ORDER BY round ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS cumulative_shingles
       |FROM sel""".stripMargin
  }

  /** Shared recursive-trace CTE chain for q252/q253 — the DuckDB replay
    * of Packing.complementPlanTrace's integer greedy at capacity 256:
    * builds the clamped length histogram as a 256-slot list and iterates
    * (largest length → largest complement → bulk consume), emitting one
    * (step, la, lb, k) strategy row per recursion step. Must stay inside
    * a WITH RECURSIVE introduced by the caller.
    */
  private lazy val complementTraceCtesSql: String =
    s"""t AS (SELECT CAST(len($toksSql) AS BIGINT) AS l0 FROM documents),
       |h AS (SELECT least(l0, 256) AS l, CAST(count(*) AS BIGINT) AS n
       |  FROM t WHERE l0 >= 1 GROUP BY 1),
       |grid AS (SELECT gs.i, coalesce(h.n, 0) AS n
       |  FROM (SELECT unnest(range(1, 257)) AS i) gs
       |  LEFT JOIN h ON h.l = gs.i),
       |init AS (SELECT list(n ORDER BY i) AS cnts FROM grid),
       |rec(step, cnts, la, lb, k) AS (
       |  SELECT 0, cnts, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |    CAST(NULL AS BIGINT) FROM init
       |  UNION ALL
       |  SELECT step + 1,
       |    list_transform(range(1, 257), i -> cnts[i] -
       |      CASE WHEN mm = ll AND i = ll THEN 2 * kk
       |           WHEN i = ll OR i = mm THEN kk ELSE 0 END),
       |    ll, CASE WHEN mm = 0 THEN NULL ELSE mm END, kk
       |  FROM (
       |    SELECT step, cnts, ll, mm,
       |      CASE WHEN mm = 0 THEN cnts[ll]
       |           WHEN mm = ll THEN cnts[ll] // 2
       |           ELSE least(cnts[ll], cnts[mm]) END AS kk
       |    FROM (
       |      SELECT step, cnts, ll,
       |        list_max(list_transform(range(1, 257), i ->
       |          CASE WHEN i <= 256 - ll AND
       |            cnts[i] - (CASE WHEN i = ll THEN 1 ELSE 0 END) > 0
       |          THEN i ELSE 0 END)) AS mm
       |      FROM (
       |        SELECT step, cnts,
       |          list_max(list_transform(range(1, 257), i ->
       |            CASE WHEN cnts[i] > 0 THEN i ELSE 0 END)) AS ll
       |        FROM rec) s1
       |      WHERE ll > 0) s2) s3)""".stripMargin

  /** Shared CTE chain for q242/q243 mirroring TextAnalysis.scoreCurve over
    * the frozen quality logistic: distinct round-6 score groups (g) with
    * descending-cumulative confusion counts (c) and class totals (t). The
    * cumulative window runs over the bounded distinct-score relation only.
    */
  private lazy val qualityScoreCurveSql: String =
    s"""f AS ($qualityFeaturesSql),
       |s AS (SELECT doc_id,
       |    round(1.0 / (1.0 + exp(-(-2.0 + 0.45 * ln(1.0 + n_tokens)
       |      + 3.0 * stopword_ratio + 0.15 * mean_token_len
       |      - 8.0 * punct_ratio))), 6) AS p
       |  FROM f),
       |j AS (SELECT p, CAST(d.lang = 'en' AS BIGINT) AS y
       |  FROM s JOIN documents d ON s.doc_id = d.doc_id),
       |g AS (SELECT p AS threshold, CAST(sum(y) AS BIGINT) AS np,
       |    CAST(count(*) - sum(y) AS BIGINT) AS nn
       |  FROM j GROUP BY p),
       |c AS (SELECT threshold, np, nn,
       |    CAST(sum(np) OVER (ORDER BY threshold DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
       |    CAST(sum(nn) OVER (ORDER BY threshold DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
       |  FROM g),
       |t AS (SELECT CAST(sum(np) AS BIGINT) AS pos,
       |    CAST(sum(nn) AS BIGINT) AS neg FROM g)""".stripMargin
}
