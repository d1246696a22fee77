package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.core.Materialize
import graft.operators.{ConnectedComponents, Curation, Dedup, Multimodal, PageRank, SetSimJoin, Similarity, TextDedup}
import Q.t

/** Training-data pipeline queries over the `documents` / `embeddings`
  * testdata tables: text analysis, exact + near deduplication (MinHash-LSH,
  * SimHash, n-gram Jaccard), embedding similarity search (brute-force,
  * IVF, sign-LSH), and multimodal feature plumbing.
  *
  * These generalize the reference's text/ingest surface
  * (`scripts/data_generation/a1_2_news_data_scrapper.py:25-44` sanitize,
  * `macros/categorize_news.sql` keyword classifier) to corpus scale; the
  * dedup/similarity operators are the 100 TB-pipeline extensions SURVEY
  * §7.5 calls for. Every oracle replays the exact same arithmetic in
  * DuckDB (md5-derived hashes, sequential double folds) so results are
  * compared value-exact, not approximately.
  */
object CorpusQueries {

  /** One corpus's language-blocked SimHash near-dup pairs and their
    * dedup groups — shared by the pair query and the dedup-group queries.
    * The whole pair predicate sits inside the join condition so
    * non-matching pairs of the O(block²) loop never materialize as output
    * rows.
    */
  final class Simhash(s: org.apache.spark.sql.SparkSession, dir: String) {
    // cached: both self-join sides read one materialization of the
    // fingerprint aggregation; the broadcast probe (vs a join shuffled on
    // the language key) keeps O(block²) hamming work spread across every
    // cache partition instead of one task per language
    val fingerprints: org.apache.spark.sql.DataFrame = Materialize.cache(
      TextDedup.simhashFingerprints(
        t(s, dir, "documents"), "doc_id", Seq("lang"), TextFns.tokens(col("text"))))
    val pairs: org.apache.spark.sql.DataFrame = Materialize.cache {
      val fp = fingerprints
      val a = fp.select(col("lang"), col("doc_id").as("a_id"), col("simhash").as("__ha"))
      val b = fp.select(col("lang").as("lang2"), col("doc_id").as("b_id"), col("simhash").as("__hb"))
      a.join(broadcast(b),
          col("lang") === col("lang2") && col("a_id") < col("b_id") &&
          TextDedup.hammingDistance(col("__ha"), col("__hb")) <= 2)
        .withColumn("hamming", TextDedup.hammingDistance(col("__ha"), col("__hb")))
    }
    // the memo entry's scope, open while this value is built: the groups
    // are built later, inside whichever line first reads them, and must
    // outlive that line
    private val owner = Materialize.current

    /** The converged dedup groups over the pair graph, built on first use
      * (so q_simhash_pairs alone never runs CC): the components run once
      * per memo entry, exactly as a real pipeline materializes its group
      * table once. The frame reads CC's pinned labels, which the memo
      * entry owns.
      */
    lazy val groups: org.apache.spark.sql.DataFrame = owner(
      ConnectedComponents.dedupGroups(pairs.select(col("a_id"), col("b_id")), "a_id", "b_id"))
  }

  /** The simhash pair and dedup-group frames as one memoized family; its
    * fill line builds the groups.
    */
  val groups: Shared.Memo[Simhash] =
    Shared.memo("q_groups_warm")(new Simhash(_, _))(fill = _.groups.count())

  /** Deterministic messy-URL fixture over the documents table: scheme and
    * host case shifts, userinfo, default (:80/:443) and nonstandard
    * (:8080) ports, trailing slashes, tracking params, fragments — every
    * rule of [[Curation.urlCanonicalize]] fires, and distinct raw URLs
    * collapse onto shared canonical forms (cycle lcm 420 < corpus size).
    */
  private def urlFixture(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = col("doc_id")
    t(s, dir, "documents").select(d, urlExpr(d).as("url"))
  }

  /** The messy-URL expression of [[urlFixture]], factored so composition
    * queries (q_web_pipeline) attach the same URL to their own page frame.
    */
  private def urlExpr(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      element_at(array(lit("HTTP"), lit("https"), lit("HTTPS")), (d % 3 + 1).cast("int")),
      lit("://"),
      when(d % 11 === 0, lit("user:pass@")).otherwise(lit("")),
      lit("WWW.Site"), (d % 7).cast("string"), lit(".Example.COM"),
      element_at(array(lit(""), lit(":443"), lit(":8080"), lit(":80")), (d % 4 + 1).cast("int")),
      lit("/Cat/item"), (d % 5).cast("string"),
      when(d % 2 === 0, lit("/")).otherwise(lit("")),
      lit("?id="), (d % 10).cast("string"), lit("&utm_source=feed"),
      when(d % 5 === 0, lit("&gclid=ZZ")).otherwise(lit("")),
      when(d % 2 === 1, lit("#Section")).otherwise(lit("")))

  /** DuckDB replay of [[urlFixture]] + [[Curation.urlCanonicalize]]'s
    * regexp chain (RE2-compatible patterns, shared verbatim), ending in a
    * `canon` CTE both URL oracles select from.
    */
  private val UrlCanonSql = """
        WITH u AS (
          SELECT doc_id,
                 ['HTTP', 'https', 'HTTPS'][CAST(doc_id % 3 AS INT) + 1] || '://'
                 || CASE WHEN doc_id % 11 = 0 THEN 'user:pass@' ELSE '' END
                 || 'WWW.Site' || (doc_id % 7) || '.Example.COM'
                 || ['', ':443', ':8080', ':80'][CAST(doc_id % 4 AS INT) + 1]
                 || '/Cat/item' || (doc_id % 5)
                 || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
                 || '?id=' || (doc_id % 10) || '&utm_source=feed'
                 || CASE WHEN doc_id % 5 = 0 THEN '&gclid=ZZ' ELSE '' END
                 || CASE WHEN doc_id % 2 = 1 THEN '#Section' ELSE '' END AS url
          FROM documents),
        cparts AS (
          SELECT doc_id, url,
                 lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                 lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                 regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
          FROM u),
        hparts AS (
          SELECT doc_id, url, scheme,
                 regexp_replace(
                   CASE WHEN scheme = 'http'
                          THEN regexp_replace(regexp_replace(hostport, '^[^@]*@', ''), ':80$', '')
                        WHEN scheme = 'https'
                          THEN regexp_replace(regexp_replace(hostport, '^[^@]*@', ''), ':443$', '')
                        ELSE regexp_replace(hostport, '^[^@]*@', '') END,
                   '^www\.', '') AS host,
                 regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path,
                 regexp_extract(rest, '\?(.*)$', 1) AS q
          FROM cparts),
        canon AS (
          SELECT doc_id, url, path,
                 scheme || '://' || host || path
                 || CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END AS canon_url,
                 CASE WHEN contains(bh, '.') THEN regexp_extract(bh, '([^.]+\.[^.]+)$', 1)
                      ELSE bh END AS domain
          FROM (SELECT *,
                  list_sort(list_filter(string_split(q, '&'),
                    p -> p <> '' AND NOT regexp_matches(p, '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref|ref_src)='))) AS ps,
                  regexp_extract(host, '^([^:]*)', 1) AS bh
                FROM hparts))"""

  /** DuckDB replay of [[Multimodal.dhashFixture]] + [[Multimodal.dHash]]:
    * closed-form 9x8 nearest-neighbor luminance grid → difference bits →
    * two unsigned 32-bit hash words, ending in a `ph` CTE (doc_id, width,
    * height, dhash_hi, dhash_lo) both perceptual-hash oracles select from.
    */
  private val DHashSql = """
        WITH d AS (SELECT doc_id, doc_id % 250 AS b, (doc_id // 250) % 3 AS pert FROM documents),
        dim AS (SELECT doc_id, b, pert, 4 + b % 5 AS w, 3 + b % 4 AS h FROM d),
        grid AS (SELECT doc_id, b, pert, w, h, y, x,
                        ((y * h // 8) * w + (x * w // 9)) * 3 AS base
                 FROM dim, (SELECT unnest(range(0, 8)) AS y), (SELECT unnest(range(0, 9)) AS x)),
        lum AS (SELECT doc_id, y, x,
                       (b*7 + base*(2 + b % 16) + base*base*(b % 9) + pert) % 256
                         + (b*7 + (base+1)*(2 + b % 16) + (base+1)*(base+1)*(b % 9) + pert) % 256
                         + (b*7 + (base+2)*(2 + b % 16) + (base+2)*(base+2)*(b % 9) + pert) % 256 AS l
                FROM grid),
        bits AS (SELECT a.doc_id, a.y * 8 + a.x AS bit
                 FROM lum a JOIN lum r ON r.doc_id = a.doc_id AND r.y = a.y AND r.x = a.x + 1
                 WHERE a.x < 8 AND r.l > a.l),
        hw AS (SELECT doc_id,
                      CAST(coalesce(sum(CASE WHEN bit >= 32 THEN 2^(bit-32) END), 0) AS BIGINT) AS dhash_hi,
                      CAST(coalesce(sum(CASE WHEN bit < 32 THEN 2^bit END), 0) AS BIGINT) AS dhash_lo
               FROM bits GROUP BY 1),
        ph AS (SELECT m.doc_id, CAST(m.w AS INT) AS width, CAST(m.h AS INT) AS height,
                      coalesce(hw.dhash_hi, CAST(0 AS BIGINT)) AS dhash_hi,
                      coalesce(hw.dhash_lo, CAST(0 AS BIGINT)) AS dhash_lo
               FROM dim m LEFT JOIN hw ON hw.doc_id = m.doc_id)"""

  /** DuckDB replay of [[Multimodal.wavDupFixture]] +
    * [[Multimodal.contourBands]] over [[Multimodal.pcmFrameLevels]] (frame
    * 8 / hop 4, qStep 32768, 2-frame bands): integer mean-square levels
    * per frame, concatenated into band signatures, ending in a `bd` CTE (doc_id, band_idx, band_sig) both
    * audio-fingerprint oracles select from. All-integer arithmetic — the
    * quantized levels are exact Long divisions on both engines.
    */
  private val AudioFpSql = """
        WITH d AS (SELECT doc_id, doc_id % 250 AS b, (doc_id // 250) % 3 AS pert FROM documents),
        dn AS (SELECT doc_id, b, pert, 16 + b % 17 AS n FROM d),
        fr AS (SELECT doc_id, b, pert, n, unnest(range(0, (n + 3) // 4)) AS f FROM dn),
        sm AS (SELECT doc_id, b, pert, f, unnest(range(f * 4, least(f * 4 + 8, n))) AS k FROM fr),
        vv AS (SELECT doc_id, f,
                      (((b * 13 + k * 5) % 4096) * (((b * 7 + k // 4) % 5) + 1)) // 5
                        - 2048 + pert AS v
               FROM sm),
        ag AS (SELECT doc_id, f, count(*) AS m, sum(v * v) AS s2 FROM vv GROUP BY 1, 2),
        lv AS (SELECT doc_id, CAST(f AS INT) AS frame_idx, (s2 // m) // 32768 AS level FROM ag),
        bd AS (SELECT doc_id, CAST(frame_idx // 2 AS INT) AS band_idx,
                      string_agg(level, '-' ORDER BY frame_idx) AS band_sig
               FROM lv GROUP BY 1, 2)"""

  /** DuckDB replay of [[Multimodal.y4mDupFixture]] +
    * [[Multimodal.contourLevels]] / [[Multimodal.contourBands]] over
    * [[Multimodal.y4mLumaLevels]] (qStep 4, 2-frame bands): exact
    * integer luma sums per frame (the +pert shift adds exactly pert*ysize
    * because the fixture's %253 modulus leaves wrap-free headroom), the
    * same Long division chain, ending in `lv` (doc_id, frame_idx, level)
    * and `bd` (doc_id, band_idx, band_sig) CTEs both video oracles select
    * from.
    */
  private val VideoFpSql = """
        WITH d AS (SELECT doc_id, doc_id % 250 AS b, (doc_id // 250) % 3 AS pert FROM documents),
        dim AS (SELECT doc_id, b, pert,
                     CAST((4 + 2*(b%4)) * (2 + 2*(b%3)) AS BIGINT) AS ysize,
                     2 + b % 4 AS nf FROM d),
        fr AS (SELECT doc_id, b, pert, ysize, unnest(range(0, nf)) AS f FROM dim),
        px AS (SELECT doc_id, b, pert, ysize, f, unnest(range(0, ysize)) AS p FROM fr),
        sm AS (SELECT doc_id, f, ysize,
                      CAST(sum((b*3 + 7*f + 5*p) % 253) + pert * ysize AS BIGINT) AS s
               FROM px GROUP BY doc_id, f, ysize, pert),
        lv AS (SELECT doc_id, CAST(f AS INT) AS frame_idx, (s // ysize) // 4 AS level FROM sm),
        bd AS (SELECT doc_id, CAST(frame_idx // 2 AS INT) AS band_idx,
                      string_agg(level, '-' ORDER BY frame_idx) AS band_sig
               FROM lv GROUP BY 1, 2)"""

  /** DuckDB replay of the link-graph fixture + [[Curation.linkGraph]]'s
    * host normalization: the messy source URLs of [[urlFixture]], the
    * constructed in-page `<a href>` targets (the operator regex-extracts
    * these from real HTML; the oracle builds the same strings directly),
    * and the shared host chain applied ONCE to a stacked (role, url)
    * relation — ending in an `lg` CTE (src_host, dst_host, n_links) both
    * link-graph oracles select from.
    */
  private val LinkGraphSql = """
        WITH u AS (
          SELECT doc_id,
                 ['HTTP', 'https', 'HTTPS'][CAST(doc_id % 3 AS INT) + 1] || '://'
                 || CASE WHEN doc_id % 11 = 0 THEN 'user:pass@' ELSE '' END
                 || 'WWW.Site' || (doc_id % 7) || '.Example.COM'
                 || ['', ':443', ':8080', ':80'][CAST(doc_id % 4 AS INT) + 1]
                 || '/Cat/item' || (doc_id % 5)
                 || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
                 || '?id=' || (doc_id % 10) || '&utm_source=feed'
                 || CASE WHEN doc_id % 5 = 0 THEN '&gclid=ZZ' ELSE '' END
                 || CASE WHEN doc_id % 2 = 1 THEN '#Section' ELSE '' END AS url
          FROM documents),
        links AS (
          SELECT doc_id, unnest(
            [{i: 1, h: 'https://Site' || ((doc_id * 3 + 1) % 7) || '.Example.COM/p'},
             {i: 2, h: 'http://www.site' || ((doc_id * 5 + 2) % 7)
                       || '.example.com:80/q?utm_source=x&id=' || (doc_id % 4)}]
            || CASE WHEN doc_id % 2 = 0
                 THEN [{i: 3, h: 'https://Site' || ((doc_id * 3 + 1) % 7) || '.Example.COM/p'}]
                 ELSE CAST([] AS STRUCT(i INT, h VARCHAR)[]) END,
            recursive := true)
          FROM u),
        stacked AS (
          SELECT doc_id, 0 AS i, url AS u2 FROM u
          UNION ALL SELECT doc_id, i, h AS u2 FROM links),
        hosts AS (
          SELECT doc_id, i,
                 regexp_extract(regexp_replace(
                   CASE WHEN scheme = 'http' THEN regexp_replace(hp, ':80$', '')
                        WHEN scheme = 'https' THEN regexp_replace(hp, ':443$', '')
                        ELSE hp END, '^www\.', ''), '^([^:]*)', 1) AS host
          FROM (SELECT doc_id, i,
                  lower(regexp_extract(u2, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                  regexp_replace(lower(regexp_extract(u2, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                    '^[^@]*@', '') AS hp
                FROM stacked)),
        lg AS (
          SELECT s.host AS src_host, d.host AS dst_host, CAST(count(*) AS BIGINT) AS n_links
          FROM hosts s JOIN hosts d ON d.doc_id = s.doc_id AND s.i = 0 AND d.i > 0
          GROUP BY 1, 2)"""

  /** The link-graph page fixture: each document carries its (messy)
    * [[urlFixture]] source URL plus an HTML body with two absolute links
    * (one clean-cased, one www/:80/tracking-param variant), a RELATIVE link
    * that must be ignored, and — on even ids — a repeat of the first link
    * (multiplicity must count).
    */
  private def linkFixture(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = col("doc_id")
    val first = concat(lit("https://Site"), ((d * 3 + 1) % 7).cast("string"),
      lit(".Example.COM/p"))
    val html = concat(
      lit("<html><body><p>see <a href=\""), first, lit("\">t</a></p>"),
      lit("<a href=\"http://www.site"), ((d * 5 + 2) % 7).cast("string"),
      lit(".example.com:80/q?utm_source=x&id="), (d % 4).cast("string"), lit("\">u</a>"),
      lit("<a href=\"/rel\">rel</a>"),
      when(d % 2 === 0, concat(lit("<a href=\""), first, lit("\">again</a>")))
        .otherwise(lit("")),
      lit("</body></html>"))
    urlFixture(s, dir).select(d, col("url"), html.as("html"))
  }

  /** The q_simhash_pairs oracle CTE chain, reused as the edge list of the
    * dedup-group oracle.
    */
  // Fingerprints are computed once per DISTINCT (lang, text) and expanded
  // to doc grain (identical text => identical token multiset => identical
  // simhash — lossless): on the duplicate-saturated sf1 gate corpus the
  // doc-grain replay evaluates 32 md5 probes per token INSTANCE and
  // stalls, while the distinct-grain replay is the unreplicated cost.
  private val SimhashEdgesSql = """
        WITH dfam AS (
          SELECT lang, text, min(doc_id) AS dgid, list(doc_id) AS dmembers
          FROM documents GROUP BY 1, 2),
        toks AS (
          SELECT dgid, lang, unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tk FROM dfam),
        bits AS (
          SELECT dgid, lang, j,
                 sum(((CAST(floor((strpos('0123456789abcdef', substr(md5(tk), 1 + (j // 4), 1)) - 1)
                                  / 2^(3 - (j % 4))) AS INT) % 2) * 2 - 1)) AS s
          FROM toks CROSS JOIN (SELECT unnest(range(0, 32)) AS j)
          GROUP BY 1, 2, 3),
        fpd AS (
          SELECT dgid, lang,
                 CAST(sum(CASE WHEN s >= 0 THEN CAST(2^j AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY 1, 2),
        fp AS (
          SELECT dmem.doc_id, f.lang, f.simhash
          FROM (SELECT dgid, unnest(dmembers) AS doc_id FROM dfam) dmem
          JOIN fpd f USING (dgid)),
        e AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM fp a JOIN fp b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 2)"""

  /** The component labeling (`comp`: v, label) over the simhash graph at
    * FAMILY grain: docs with identical (lang, simhash) are a clique (all
    * pairwise hamming 0), so the recursive-CTE closure runs over distinct
    * fingerprints and member expansion restores doc grain — on a
    * duplicate-saturated corpus (the sf1 gate's factor-replicated inputs)
    * the doc-grain closure materializes component² reach rows and stalls,
    * while the family-grain closure is exactly the unreplicated cost.
    * Self-loops keep multi-member families with no external edge in the
    * vertex set (their members ARE paired — hamming-0 edges); single-member
    * edge-less families stay out, like the doc-grain graph. Appends to
    * [[SimhashEdgesSql]]'s prefix (uses `fp`; `e` is pruned as unused).
    */
  private val SimhashFamilyCompSql = """
        fam AS (
          SELECT lang, simhash, min(doc_id) AS gid, list(doc_id) AS members, count(*) AS m
          FROM fp GROUP BY 1, 2),
        fe AS (
          SELECT a.gid AS x, b.gid AS y
          FROM fam a JOIN fam b ON a.lang = b.lang AND a.gid < b.gid
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
        fund AS (
          SELECT x, y FROM fe UNION ALL SELECT y, x FROM fe
          UNION ALL SELECT gid, gid FROM fam WHERE m >= 2),
        fcomp AS (
          SELECT v, min(r) AS label FROM (
            WITH RECURSIVE reach(v, r) AS (
              SELECT x, x FROM fund
              UNION
              SELECT reach.v, fund.y FROM reach JOIN fund ON fund.x = reach.r
            ) SELECT v, r FROM reach) GROUP BY v),
        mem AS (SELECT gid, unnest(members) AS doc_id FROM fam),
        comp AS (
          SELECT mem.doc_id AS v, fcomp.label
          FROM mem JOIN fcomp ON fcomp.v = mem.gid)"""

  /** The shared family-grain groups tail for the contour (audio/video)
    * near-dup GROUPS oracles: appended to [[AudioFpSql]]/[[VideoFpSql]]
    * (uses their `lv` + `bd` CTEs). Family = identical ordered
    * (frame_idx, level) contour — the key serializes BOTH fields, matching
    * the engine's `frame_idx:level` family key exactly, so two docs with
    * equal level sequences on different frame grids never family-collapse
    * here while failing to pair at doc grain (band signatures derive from
    * the contour, so the pair relation is a pure function of the two
    * contours — lossless, the
    * [[SimhashFamilyCompSql]] pattern): candidates + verify replay at
    * family grain, multi-member families with >= 2 bands enter the
    * closure via a self-loop (identical clips DO pair), and member
    * expansion restores doc grain. The r9 lesson applied from the start —
    * a doc-grain closure would be quadratic on replicated gate corpora.
    */
  private val ContourGroupsSql = """,
        ck AS (SELECT doc_id, list(frame_idx::VARCHAR || ':' || level::VARCHAR ORDER BY frame_idx) AS key
               FROM lv GROUP BY doc_id),
        fam AS (SELECT min(doc_id) AS gid, list(doc_id) AS members, count(*) AS m
                FROM ck GROUP BY key),
        fb AS (SELECT bd.* FROM bd JOIN fam ON bd.doc_id = fam.gid),
        fl AS (SELECT lv.* FROM lv JOIN fam ON lv.doc_id = fam.gid),
        nbd AS (SELECT doc_id, count(*) AS nbands FROM fb GROUP BY 1),
        cand AS (
          SELECT a.doc_id AS a_id, c.doc_id AS b_id
          FROM fb a JOIN fb c ON a.band_idx = c.band_idx AND a.band_sig = c.band_sig
            AND a.doc_id < c.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2),
        nfr AS (SELECT doc_id, count(*) AS nf FROM fl GROUP BY 1),
        ver AS (
          SELECT cand.a_id, cand.b_id, count(*) AS n_frames,
                 max(abs(la.level - lb.level)) AS mld
          FROM cand
          JOIN fl la ON la.doc_id = cand.a_id
          JOIN fl lb ON lb.doc_id = cand.b_id AND lb.frame_idx = la.frame_idx
          GROUP BY 1, 2),
        fe AS (
          SELECT ver.a_id AS x, ver.b_id AS y FROM ver
          JOIN nfr na ON na.doc_id = ver.a_id
          JOIN nfr nb2 ON nb2.doc_id = ver.b_id
          WHERE na.nf = nb2.nf AND ver.n_frames = na.nf AND ver.mld <= 1),
        fund AS (
          SELECT x, y FROM fe UNION ALL SELECT y, x FROM fe
          UNION ALL SELECT fam.gid, fam.gid FROM fam
          JOIN nbd ON nbd.doc_id = fam.gid WHERE fam.m >= 2 AND nbd.nbands >= 2),
        fcomp AS (
          SELECT v, min(r) AS label FROM (
            WITH RECURSIVE reach(v, r) AS (
              SELECT x, x FROM fund
              UNION
              SELECT reach.v, fund.y FROM reach JOIN fund ON fund.x = reach.r
            ) SELECT v, r FROM reach) GROUP BY v),
        mem AS (SELECT gid, unnest(members) AS doc_id FROM fam)
        SELECT mem.doc_id AS member_id, fcomp.label AS group_id,
               mem.doc_id = fcomp.label AS is_canonical
        FROM mem JOIN fcomp ON fcomp.v = mem.gid"""

  val all: Seq[Q] = Seq(

    // Text analysis: token counts, ratios, quality score, fingerprint,
    // keyword category (categorize_news macro parity).
    Q("q_text_stats",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val toks = TextFns.tokens(col("text"))
        d.select(
          col("doc_id"),
          TextFns.tokenCount(col("text")).as("n_tokens"),
          TextFns.bpeishTokenCount(col("text")).as("n_bpeish"),
          coalesce(TextFns.alphaRatio(col("text")), lit(0.0)).as("alpha_ratio"),
          coalesce(TextFns.punctRatio(col("text")), lit(0.0)).as("punct_ratio"),
          TextFns.qualityScore(col("text")).as("quality"),
          TextFns.fingerprint(col("text")).as("fingerprint"),
          when(col("text").like("%spark%"), lit("ENGINE"))
            .when(col("text").like("%stream%"), lit("STREAMING"))
            .when(col("text").like("%customer%"), lit("BUSINESS"))
            .otherwise(lit("OTHER")).as("category"))
      },
      Some("""
        SELECT doc_id,
          len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS n_tokens,
          len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish,
          coalesce(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                   / CAST(nullif(length(text), 0) AS DOUBLE), 0.0) AS alpha_ratio,
          coalesce(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                   / CAST(nullif(length(text), 0) AS DOUBLE), 0.0) AS punct_ratio,
          least(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) / 50.0, 1.0) * 0.4
            + coalesce(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                       / CAST(nullif(length(text), 0) AS DOUBLE), 0.0) * 0.4
            + (1.0 - least(coalesce(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                                    / CAST(nullif(length(text), 0) AS DOUBLE), 0.0) * 5.0, 1.0)) * 0.2 AS quality,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
          CASE WHEN text LIKE '%spark%' THEN 'ENGINE'
               WHEN text LIKE '%stream%' THEN 'STREAMING'
               WHEN text LIKE '%customer%' THEN 'BUSINESS'
               ELSE 'OTHER' END AS category
        FROM documents""")),

    // Language ID: stopword-hit argmax across 4 languages (ties -> first
    // language in sorted order; zero hits -> 'und').
    Q("q_lang_id",
      (s, dir) => {
        val toks = TextFns.tokens(col("text"))
        Q.tSpread(s, dir, "documents").select(
          col("doc_id"),
          col("lang"),
          TextFns.langId(toks).as("lang_pred"),
          coalesce(TextFns.stopwordRatio(toks, "en"), lit(0.0)).as("en_stopword_ratio"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM documents),
        hits AS (
          SELECT doc_id, lang, len(tk) AS n_tok,
            len(list_filter(tk, t -> t IN ('der','die','das','und','ist','nicht','ein','mit','zu','den'))) AS h_de,
            len(list_filter(tk, t -> t IN ('the','a','and','of','to','in','is','it','that','for'))) AS h_en,
            len(list_filter(tk, t -> t IN ('el','la','y','los','es','un','una','que','por','con'))) AS h_es,
            len(list_filter(tk, t -> t IN ('le','la','et','les','des','est','un','une','que','pour'))) AS h_fr
          FROM h),
        fold AS (
          SELECT doc_id, lang, n_tok, h_en,
            greatest(greatest(h_de, h_en), greatest(h_es, h_fr)) AS best_hits,
            CASE WHEN h_fr > greatest(greatest(h_de, h_en), h_es) THEN 'fr'
                 WHEN h_es > greatest(h_de, h_en) THEN 'es'
                 WHEN h_en > h_de THEN 'en'
                 ELSE 'de' END AS best_lang
          FROM hits)
        SELECT doc_id, lang,
          CASE WHEN best_hits > 0 THEN best_lang ELSE 'und' END AS lang_pred,
          coalesce(CAST(h_en AS DOUBLE) / CAST(nullif(n_tok, 0) AS DOUBLE), 0.0) AS en_stopword_ratio
        FROM fold""")),

    // Token frequency: explode + count + deterministic top-k.
    Q("q_token_freq",
      (s, dir) => t(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50),
      Some("""
        SELECT tk AS token, count(*) AS n
        FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tk FROM documents)
        GROUP BY tk ORDER BY n DESC, token LIMIT 50""")),

    // Exact dedup under bag-of-words normalization: md5 of the sorted
    // distinct token set groups shuffled duplicates together.
    Q("q_exact_dedup",
      (s, dir) => {
        val bagKey = md5(array_join(array_sort(array_distinct(TextFns.tokens(col("text")))), " "))
        Dedup.exactDedupGroups(t(s, dir, "documents"), bagKey, col("doc_id"))
      },
      Some("""
        SELECT md5(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))), ' ')) AS content_hash,
               min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY 1""")),

    // n-gram Jaccard near-dup pairs, blocked by language (bounded quadratic).
    // The oracle replays the operator's exact-duplicate collapse: identical
    // (lang, shingle-set) docs form a family, the quadratic loop runs at
    // family grain, same-family pairs are jaccard 1.0 by identity — the
    // replay stays exact while surviving duplicate-saturated corpora (the
    // sf1 gate's factor-replicated inputs) that a doc-grain all-pairs join
    // cannot.
    Q("q_ngram_dup_pairs",
      (s, dir) => TextDedup.blockedJaccardPairs(
        t(s, dir, "documents"), "doc_id", "lang", TextFns.tokens(col("text")), 2, 0.5),
      Some("""
        WITH sh AS (
          SELECT doc_id, lang,
            CASE WHEN len(tk) >= 2
                 THEN list_sort(list_distinct([array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))]))
                 ELSE [] END AS s
          FROM (SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM documents)),
        fam AS (
          SELECT lang, s, min(doc_id) AS gid, list(doc_id) AS members, len(s) AS n
          FROM sh GROUP BY lang, s),
        mem AS (SELECT gid, unnest(members) AS m, n FROM fam),
        same AS (
          SELECT a.m AS a_id, b.m AS b_id, CAST(1.0 AS DOUBLE) AS jaccard
          FROM mem a JOIN mem b ON a.gid = b.gid AND a.m < b.m
          WHERE a.n >= 1),
        fampairs AS (
          SELECT a.gid AS ga, b.gid AS gb,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / CAST(nullif(len(list_distinct(list_concat(a.s, b.s))), 0) AS DOUBLE) AS jaccard
          FROM fam a JOIN fam b ON a.lang = b.lang AND a.gid < b.gid
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / CAST(nullif(len(list_distinct(list_concat(a.s, b.s))), 0) AS DOUBLE) >= 0.5),
        crossed AS (
          SELECT least(x.m, y.m) AS a_id, greatest(x.m, y.m) AS b_id, f.jaccard
          FROM fampairs f JOIN mem x ON x.gid = f.ga JOIN mem y ON y.gid = f.gb)
        SELECT * FROM same UNION ALL SELECT * FROM crossed""")),

    // MinHash + LSH banding near-dup pairs (md5 hash family so the oracle
    // reproduces signatures bit-for-bit), verified with exact Jaccard.
    // Oracle replays at distinct-TEXT family grain (identical text =>
    // identical signature => identical band hashes — lossless) and
    // faithfully replays the engine's 1000-doc bucket cap as sum(m) over
    // the families in a bucket; same-family pairs are candidates whenever
    // any of their shared buckets survives, with jaccard 1.0 by identity.
    Q("q_minhash_dup_pairs",
      (s, dir) => TextDedup.minhashDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        shingleWords = 2, bands = 4, rowsPerBand = 3, threshold = 0.5,
        family = TextDedup.HexMd5),
      Some("""
        WITH dfam AS (
          SELECT text, min(doc_id) AS gid, list(doc_id) AS members, count(*) AS m
          FROM documents GROUP BY 1),
        sh AS (
          SELECT gid, m,
            CASE WHEN len(tk) >= 2
                 THEN list_distinct([array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))])
                 ELSE [] END AS s
          FROM (SELECT gid, m, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM dfam)),
        bases AS (
          SELECT gid, m, list_transform(s, x ->
            CAST(list_reduce(list_transform(range(1, 8),
                k -> (strpos('0123456789abcdef', substr(md5(x), k, 1)) - 1) * 16^(7-k)),
              (a, b) -> a + b) AS BIGINT)) AS bs
          FROM sh WHERE len(s) > 0),
        sig AS (
          SELECT gid, m, [list_min(list_transform(bs,
                   b -> (((1103515245 * (h+1)) % 2147483647) * b + 12345 * (h+1)) % 2147483647))
                 FOR h IN range(0, 12)] AS sg
          FROM bases),
        banded AS (
          SELECT gid, m, b,
                 md5(CAST(b AS VARCHAR) || '|' || array_to_string(sg[b*3+1:b*3+3], '|')) AS bh
          FROM sig, (SELECT unnest(range(0, 4)) AS b)),
        okbuckets AS (
          SELECT b, bh FROM banded GROUP BY 1, 2 HAVING sum(m) <= 1000),
        capped AS (SELECT banded.* FROM banded JOIN okbuckets USING (b, bh)),
        mems AS (SELECT gid, unnest(members) AS doc_id FROM dfam),
        same AS (
          SELECT x.doc_id AS a_id, y.doc_id AS b_id, CAST(1.0 AS DOUBLE) AS jaccard
          FROM (SELECT DISTINCT gid FROM capped) cg
          JOIN mems x ON x.gid = cg.gid
          JOIN mems y ON y.gid = cg.gid AND x.doc_id < y.doc_id),
        candf AS (
          SELECT DISTINCT l.gid AS ga, r.gid AS gb
          FROM capped l JOIN capped r ON l.b = r.b AND l.bh = r.bh AND l.gid < r.gid),
        fver AS (
          SELECT ga, gb,
                 CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / CAST(nullif(len(list_distinct(list_concat(sa.s, sb.s))), 0) AS DOUBLE) AS jaccard
          FROM candf
          JOIN sh sa ON sa.gid = ga
          JOIN sh sb ON sb.gid = gb
          WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(nullif(len(list_distinct(list_concat(sa.s, sb.s))), 0) AS DOUBLE) >= 0.5),
        crossed AS (
          SELECT least(x.doc_id, y.doc_id) AS a_id,
                 greatest(x.doc_id, y.doc_id) AS b_id, f.jaccard
          FROM fver f JOIN mems x ON x.gid = f.ga JOIN mems y ON y.gid = f.gb)
        SELECT * FROM same UNION ALL SELECT * FROM crossed""")),

    // Cross-corpus MinHash decontamination: training docs (the lower half
    // of the id space) that fuzzily duplicate eval docs (the upper half) —
    // the near-dup complement of exact n-gram q_decontam. Banded candidates
    // joined LEFT x RIGHT, exact-Jaccard verify; downstream strips a_id by
    // left_anti. Oracle replays banding and verify across the same split.
    //
    // The cut is the corpus MEDIAN (doc_id*2 < count), not a literal: under
    // ScaleGen's disjoint-copy remap (doc_id*factor+k, k < factor) the
    // median of the replicated id space maps back to the base median —
    // base*factor+k < n*factor/2 iff base < n/2 — PROVIDED the base doc
    // count n is EVEN (every driver/ScaleGen corpus is: 50/500/5000 docs).
    // For odd n the middle doc (base = (n-1)/2) sits ON the cut and its
    // copies split across sides (2k >= factor lands right), so "copies land
    // whole on one side" would not hold; the engine and the oracle share
    // the identical predicate either way, so the gate stays consistent —
    // only the whole-family invariant needs the even-n assumption
    // (ADVICE r11). The fixed 250 cut this replaced degenerated to copies
    // of base docs 0-4 at factor 50: a 0-row gate row. At the driver's
    // sf0.01/sf0.001 (500 docs) the median IS 250, so the base gate row is
    // byte-identical to the fixed-cut era. The count is an in-plan
    // broadcast scalar, never a collect.
    Q("q_cross_neardup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val n = docs.agg(count(lit(1)).as("__n"))
        val d = docs.crossJoin(broadcast(n))
        TextDedup.crossCorpusDupPairs(
          d.filter(col("doc_id") * 2 < col("__n")).drop("__n"),
          d.filter(col("doc_id") * 2 >= col("__n")).drop("__n"),
          "doc_id", "text", shingleWords = 2, bands = 4, rowsPerBand = 3,
          threshold = 0.5, family = TextDedup.HexMd5)
      },
      // Family-grain replay (r9 oracle-scale lesson, applied from the start
      // for the factor-aware split): every stage is a pure function of the
      // text, so per-SIDE identical-text families band, cap (member-
      // weighted sum(m) — replaying the engine's doc-count bucket cap
      // exactly), and verify once per distinct text; members expand at the
      // end. The doc-grain replay measured 425s at factor 10 on the median
      // split (candidates f²-quadratic on the replicated corpus) — this
      // form keeps the verify base-bounded and only the OUTPUT scales f².
      Some("""
        WITH famL AS MATERIALIZED (
          SELECT min(doc_id) AS gid, count(*) AS m, list(doc_id) AS members, text
          FROM documents WHERE doc_id * 2 < (SELECT count(*) FROM documents)
          GROUP BY text),
        famR AS MATERIALIZED (
          SELECT min(doc_id) AS gid, count(*) AS m, list(doc_id) AS members, text
          FROM documents WHERE doc_id * 2 >= (SELECT count(*) FROM documents)
          GROUP BY text),
        reps AS (SELECT gid AS doc_id, m, true AS isl, text FROM famL
                 UNION ALL
                 SELECT gid, m, false, text FROM famR),
        sh AS MATERIALIZED (
          SELECT doc_id, m, isl,
            CASE WHEN len(tk) >= 2
                 THEN list_distinct([array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))])
                 ELSE [] END AS s
          FROM (SELECT doc_id, m, isl, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM reps)),
        bases AS (
          SELECT doc_id, m, isl, list_transform(s, x ->
            CAST(list_reduce(list_transform(range(1, 8),
                k -> (strpos('0123456789abcdef', substr(md5(x), k, 1)) - 1) * 16^(7-k)),
              (a, b) -> a + b) AS BIGINT)) AS bs
          FROM sh WHERE len(s) > 0),
        sig AS (
          SELECT doc_id, m, isl, [list_min(list_transform(bs,
                   b -> (((1103515245 * (h+1)) % 2147483647) * b + 12345 * (h+1)) % 2147483647))
                 FOR h IN range(0, 12)] AS sg
          FROM bases),
        banded AS MATERIALIZED (
          SELECT doc_id, m, isl, b,
                 md5(CAST(b AS VARCHAR) || '|' || array_to_string(sg[b*3+1:b*3+3], '|')) AS bh
          FROM sig, (SELECT unnest(range(0, 4)) AS b)),
        ovr AS (
          SELECT isl, b, bh FROM banded GROUP BY 1, 2, 3 HAVING sum(m) > 1000),
        capped AS MATERIALIZED (
          SELECT banded.* FROM banded ANTI JOIN ovr USING (isl, b, bh)),
        cand AS (
          SELECT DISTINCT l.doc_id AS ga, r.doc_id AS gb
          FROM capped l JOIN capped r ON l.b = r.b AND l.bh = r.bh
          WHERE l.isl AND NOT r.isl),
        fver AS (
          SELECT ga, gb,
                 CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / CAST(nullif(len(list_distinct(list_concat(sa.s, sb.s))), 0) AS DOUBLE) AS jaccard
          FROM cand
          JOIN sh sa ON sa.doc_id = ga
          JOIN sh sb ON sb.doc_id = gb
          WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(nullif(len(list_distinct(list_concat(sa.s, sb.s))), 0) AS DOUBLE) >= 0.5)
        SELECT x.mid AS a_id, y.mid AS b_id, f.jaccard
        FROM fver f
        JOIN (SELECT gid, unnest(members) AS mid FROM famL) x ON x.gid = f.ga
        JOIN (SELECT gid, unnest(members) AS mid FROM famR) y ON y.gid = f.gb
        WHERE x.mid <> y.mid""")),

    // The Xx64 MinHash family — the 100 TB headline path (one xxhash64 per
    // shingle instead of an md5, ~10x cheaper): same banding/verify
    // pipeline, same output pairs (verification is exact Jaccard either
    // way). No SQL oracle (xxhash64 is engine-local) -> rows-only check;
    // cross-family agreement is asserted in LshRecallSpec.
    Q("q_minhash_xx64_pairs",
      (s, dir) => TextDedup.minhashDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        shingleWords = 2, bands = 4, rowsPerBand = 3, threshold = 0.5,
        family = TextDedup.Xx64),
      None),

    // SimHash fingerprints + Hamming-distance near-dup pairs within a
    // language block. The oracle replays pairs at (lang, simhash)-family
    // grain and expands to doc pairs (same-family pairs are hamming 0 by
    // identity) — lossless, and the only formulation that survives the
    // duplicate-saturated sf1 gate corpus.
    Q("q_simhash_pairs",
      (s, dir) => groups(s, dir).pairs.select(col("a_id"), col("b_id"), col("hamming")),
      Some(s"""$SimhashEdgesSql,
        sfam AS (
          SELECT lang, simhash, min(doc_id) AS gid, list(doc_id) AS members
          FROM fp GROUP BY 1, 2),
        smem AS (SELECT gid, unnest(members) AS doc_id FROM sfam),
        spairs AS (
          SELECT a.gid AS ga, b.gid AS gb,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM sfam a JOIN sfam b ON a.lang = b.lang AND a.gid < b.gid
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
        same AS (
          SELECT x.doc_id AS a_id, y.doc_id AS b_id, 0 AS hamming
          FROM smem x JOIN smem y ON x.gid = y.gid AND x.doc_id < y.doc_id),
        crossed AS (
          SELECT least(x.doc_id, y.doc_id) AS a_id,
                 greatest(x.doc_id, y.doc_id) AS b_id, p.hamming
          FROM spairs p JOIN smem x ON x.gid = p.ga JOIN smem y ON y.gid = p.gb)
        SELECT * FROM same UNION ALL SELECT * FROM crossed"""),
      shares = Some(groups)),

    // Dedup GROUPS from near-dup pairs: min-label connected components TO
    // CONVERGENCE over the simhash pair graph — transitive duplicates
    // (A~B~C without an (A,C) pair) collapse to one canonical (minimum)
    // doc id at ANY chain length. |V|-row state;
    // the oracle computes the true components via a recursive-CTE
    // transitive closure, so the green hash proves convergence, not just
    // replay fidelity of a fixed round budget (round-3 verdict item).
    Q("q_dedup_groups",
      (s, dir) => groups(s, dir).groups,
      Some(s"""$SimhashEdgesSql,$SimhashFamilyCompSql
        SELECT v AS member_id, label AS group_id, v = label AS is_canonical FROM comp"""),
      shares = Some(groups)),

    // Brute-force cosine top-k against a query vector (exact ANN baseline).
    Q("q_cosine_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(
          e, e.filter(col("vec_id") === 0), "vec_id", "embedding", 20)
      },
      Some("""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
        q AS (SELECT vec AS qv FROM v WHERE vec_id = 0)
        SELECT vec_id,
               list_reduce(list_transform(range(1, 65), i -> vec[i] * qv[i]), (x, y) -> x + y)
                 / nullif(sqrt(list_reduce(list_transform(vec, x -> x * x), (x, y) -> x + y))
                          * sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y)), 0.0) AS cosine
        FROM v, q
        ORDER BY cosine DESC, vec_id LIMIT 20""")),

    // Contrastive hard-negative mining: per-anchor top-k in the cosine
    // band [0.2, 0.35) — similar-but-not-duplicate, the negative-selection
    // step for contrastive/retrieval training pairs. Anchors broadcast;
    // band filter prunes before the shuffle; per-anchor top-k is
    // WindowGroupLimit on both sides of the exchange.
    Q("q_hard_negatives",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.hardNegatives(
          e, e.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "anchor_id"),
          "vec_id", "embedding", "anchor_id", lo = 0.2, hi = 0.35, k = 10)
      },
      Some("""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
        a AS (SELECT vec_id AS anchor_id, vec AS avec FROM v WHERE vec_id < 5),
        s AS (
          SELECT a.anchor_id, v.vec_id,
                 list_reduce(list_transform(range(1, 65), i -> vec[i] * avec[i]), (x, y) -> x + y)
                   / nullif(sqrt(list_reduce(list_transform(vec, x -> x * x), (x, y) -> x + y))
                            * sqrt(list_reduce(list_transform(avec, x -> x * x), (x, y) -> x + y)), 0.0) AS cosine
          FROM v CROSS JOIN a WHERE v.vec_id <> a.anchor_id),
        r AS (
          SELECT anchor_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY anchor_id
                   ORDER BY cosine DESC, vec_id) AS INT) AS rank
          FROM s WHERE cosine >= 0.2 AND cosine < 0.35)
        SELECT anchor_id, vec_id, cosine, rank FROM r WHERE rank <= 10""")),

    // SemDeDup (Abbas et al. 2303.09540): within-IVF-cluster cosine>=0.4
    // duplicate groups via connected components; keep the member LEAST
    // similar to its cluster centroid (the paper's rule), ties by id.
    // Oracle replays assignment, pair graph, closure, and representative
    // choice at distinct-VECTOR family grain (identical vectors share
    // assignment, pairwise cosine 1.0, and centroid cosine — lossless):
    // a nonzero-norm multi-member family is internally a clique, entering
    // the closure via a self-loop; zero-norm families have every pairwise
    // cosine NULL (predicate false), so their members stay singletons.
    // Family gid = min member id, so the family-grain min-label closure
    // expands to exactly the doc-grain labels, and the doc-grain rep
    // order (centroid_cos, vec_id) collapses to (centroid_cos, gid).
    Q("q_semdedup",
      (s, dir) => {
        val e = Q.tSpread(s, dir, "embeddings")
        Similarity.semDeDup(
          e, e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "centroid_id"),
          "vec_id", "embedding", "centroid_id", threshold = 0.4)
      },
      // MATERIALIZED CTEs are load-bearing at gate scale: DuckDB inlines a
      // CTE per REFERENCE, and this chain references pf/comp/labf through
      // several paths — the un-hinted replay recomputed the within-cluster
      // pair scan and the recursive closure 4x+ (438s at factor 10; 992s
      // under load). Materialization + norms computed once per family (the
      // identical sqrt(list_reduce(...)) expression, so every double is
      // unchanged) replays bit-identically in ~38s at factor 10.
      Some("""
        WITH fam AS MATERIALIZED (
          SELECT min(vec_id) AS gid, list(vec_id) AS members, count(*) AS m,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings GROUP BY embedding),
        fnrm AS MATERIALIZED (
          SELECT gid, sqrt(list_reduce(list_transform(vec, x -> x * x), (x, y) -> x + y)) AS nrm
          FROM fam),
        c AS MATERIALIZED (
          SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
          FROM embeddings WHERE vec_id < 8),
        cn AS MATERIALIZED (
          SELECT cid, sqrt(list_reduce(list_transform(cvec, x -> x * x), (x, y) -> x + y)) AS cnrm
          FROM c),
        d AS (
          SELECT fam.gid, c.cid,
                 row_number() OVER (PARTITION BY fam.gid
                   ORDER BY list_reduce(list_transform(range(1, 65), i -> (fam.vec[i] - c.cvec[i]) * (fam.vec[i] - c.cvec[i])), (x, y) -> x + y), c.cid) AS rn
          FROM fam CROSS JOIN c),
        asgf AS MATERIALIZED (SELECT gid, cid FROM d WHERE rn = 1),
        pf AS MATERIALIZED (
          SELECT x.gid AS ga, y.gid AS gb
          FROM asgf x
          JOIN asgf y ON x.cid = y.cid AND x.gid < y.gid
          JOIN fam fa ON fa.gid = x.gid
          JOIN fam fb ON fb.gid = y.gid
          JOIN fnrm na ON na.gid = x.gid
          JOIN fnrm nb ON nb.gid = y.gid
          WHERE list_reduce(list_transform(range(1, 65), i -> fa.vec[i] * fb.vec[i]), (x2, y2) -> x2 + y2)
                  / nullif(na.nrm * nb.nrm, 0.0) >= 0.4),
        selfp AS (
          -- gate on the COMPUTED self-cosine (S/(sqrt(S)*sqrt(S)), the
          -- identical IEEE ops the engine's doc-grain verify runs for an
          -- exact-copy pair), not norm > 0: at threshold = 1.0 the rounded
          -- self-cosine can dip below 1, and the engine gates the same way
          SELECT gid AS ga, gid AS gb FROM fam JOIN fnrm USING (gid)
          WHERE m >= 2 AND list_reduce(list_transform(vec, x -> x * x), (x, y) -> x + y)
                  / nullif(nrm * nrm, 0.0) >= 0.4),
        und AS (SELECT ga AS x, gb AS y FROM pf
                UNION ALL SELECT gb, ga FROM pf
                UNION ALL SELECT ga, gb FROM selfp),
        comp AS MATERIALIZED (
          SELECT grp.v, min(grp.r) AS label FROM (
            WITH RECURSIVE reach(v, r) AS (
              SELECT x, x FROM und
              UNION
              SELECT reach.v, und.y FROM reach JOIN und ON und.x = reach.r
            ) SELECT v, r FROM reach) grp GROUP BY grp.v),
        labf AS MATERIALIZED (
          SELECT a.gid, a.cid AS cluster_id, comp.label AS flabel,
                 list_reduce(list_transform(range(1, 65), i -> fam.vec[i] * c.cvec[i]), (x2, y2) -> x2 + y2)
                   / nullif(fnrm.nrm * cn.cnrm, 0.0) AS centroid_cos
          FROM asgf a
          JOIN fam ON fam.gid = a.gid
          JOIN fnrm ON fnrm.gid = a.gid
          JOIN c ON c.cid = a.cid
          JOIN cn ON cn.cid = a.cid
          LEFT JOIN comp ON comp.v = a.gid),
        repf AS (
          SELECT flabel AS group_id, gid AS rep_id,
                 row_number() OVER (PARTITION BY flabel
                   ORDER BY coalesce(centroid_cos, -2.0), gid) AS rn
          FROM labf WHERE flabel IS NOT NULL),
        memb AS (SELECT gid, unnest(members) AS vec_id FROM fam)
        SELECT memb.vec_id, CAST(labf.cluster_id AS BIGINT) AS cluster_id,
               CAST(coalesce(labf.flabel, memb.vec_id) AS BIGINT) AS group_id,
               labf.centroid_cos,
               CASE WHEN labf.flabel IS NULL THEN true
                    ELSE memb.vec_id = r.rep_id END AS is_kept
        FROM memb
        JOIN labf ON labf.gid = memb.gid
        LEFT JOIN (SELECT group_id, rep_id FROM repf WHERE rn = 1) r
          ON r.group_id = labf.flabel""")),

    // Embedding-cosine near-dup pairs, IVF-cluster-blocked: assign every
    // vector to its nearest centroid (broadcast argmin, map-only), verify
    // exact cosine only within clusters. All-pairs never materializes —
    // work is O(n * cluster_size) once k scales with n — and the oracle
    // replays assignment + verification bit-for-bit. Recall vs all-pairs
    // is measured in SimilaritySpec on the same data.
    Q("q_embedding_near_dup",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfNearDupPairs(
          e, e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "centroid_id"),
          "vec_id", "embedding", "centroid_id", threshold = 0.4)
      },
      // Family-grain replay (the r9 oracle-scale lesson, applied here too):
      // identical vectors share assignment, norm, and every pairwise cosine
      // — S/(sqrt(S)*sqrt(S)) for a self-pair is the identical IEEE ops the
      // doc-grain formula runs — so cosines compute once per distinct-vector
      // pair and members expand at the end. MATERIALIZED + precomputed norms
      // (same expressions, unchanged doubles): 376s -> 12s at factor 10,
      // diffed bit-exact against the doc-grain replay.
      Some("""
        WITH fam AS MATERIALIZED (
          SELECT min(vec_id) AS gid, list(vec_id) AS members, count(*) AS m,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings GROUP BY embedding),
        fnrm AS MATERIALIZED (
          SELECT gid, sqrt(list_reduce(list_transform(vec, x -> x * x), (x, y) -> x + y)) AS nrm
          FROM fam),
        c AS MATERIALIZED (
          SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
          FROM embeddings WHERE vec_id < 8),
        d AS (
          SELECT fam.gid, c.cid,
                 row_number() OVER (PARTITION BY fam.gid
                   ORDER BY list_reduce(list_transform(range(1, 65), i -> (fam.vec[i] - c.cvec[i]) * (fam.vec[i] - c.cvec[i])), (x, y) -> x + y), c.cid) AS rn
          FROM fam CROSS JOIN c),
        asgf AS MATERIALIZED (SELECT gid, cid FROM d WHERE rn = 1),
        fp AS MATERIALIZED (
          SELECT x.cid AS cluster_id, x.gid AS ga, y.gid AS gb,
                 list_reduce(list_transform(range(1, 65), i -> fa.vec[i] * fb.vec[i]), (x2, y2) -> x2 + y2)
                   / nullif(na.nrm * nb.nrm, 0.0) AS cosine
          FROM asgf x
          JOIN asgf y ON x.cid = y.cid AND x.gid < y.gid
          JOIN fam fa ON fa.gid = x.gid
          JOIN fam fb ON fb.gid = y.gid
          JOIN fnrm na ON na.gid = x.gid
          JOIN fnrm nb ON nb.gid = y.gid),
        selfp AS (
          SELECT a.cid AS cluster_id, fam.gid,
                 list_reduce(list_transform(range(1, 65), i -> fam.vec[i] * fam.vec[i]), (x2, y2) -> x2 + y2)
                   / nullif(fnrm.nrm * fnrm.nrm, 0.0) AS cosine
          FROM fam
          JOIN fnrm ON fnrm.gid = fam.gid
          JOIN asgf a ON a.gid = fam.gid
          WHERE fam.m >= 2),
        mem AS MATERIALIZED (SELECT gid, unnest(members) AS vec_id FROM fam)
        SELECT fp.cluster_id, least(xa.vec_id, xb.vec_id) AS a_id,
               greatest(xa.vec_id, xb.vec_id) AS b_id, fp.cosine
        FROM fp JOIN mem xa ON xa.gid = fp.ga JOIN mem xb ON xb.gid = fp.gb
        WHERE fp.cosine >= 0.4
        UNION ALL
        SELECT selfp.cluster_id, xa.vec_id AS a_id, xb.vec_id AS b_id, selfp.cosine
        FROM selfp JOIN mem xa ON xa.gid = selfp.gid JOIN mem xb ON xb.gid = selfp.gid
        WHERE xa.vec_id < xb.vec_id AND selfp.cosine >= 0.4""")),

    // IVF assignment: nearest of 8 centroid vectors (vec_id < 8), broadcast
    // argmin — the partition-pruning scale path for ANN.
    Q("q_ivf_assign",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfAssign(
          e, e.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "centroid_id"),
          "vec_id", "embedding", "centroid_id")
          .select(col("vec_id"), col("label"), col("cluster_id"))
      },
      Some("""
        WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
        c AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 8),
        d AS (
          SELECT v.vec_id, v.label, c.cid,
                 list_reduce(list_transform(range(1, 65), i -> (v.vec[i] - c.cvec[i]) * (v.vec[i] - c.cvec[i])), (x, y) -> x + y) AS dist,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY list_reduce(list_transform(range(1, 65), i -> (v.vec[i] - c.cvec[i]) * (v.vec[i] - c.cvec[i])), (x, y) -> x + y), c.cid) AS rn
          FROM v CROSS JOIN c)
        SELECT vec_id, label, cid AS cluster_id FROM d WHERE rn = 1""")),

    // Trained IVF: Lloyd's k-means centroids (3 iterations) then cluster
    // assignment histogram. No SQL oracle — double means are
    // order-dependent — so driver does the rows-only check; convergence
    // and separation contracts live in SimilaritySpec.
    Q("q_ivf_trained",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val centroids = Similarity.kmeansFit(e, "vec_id", "embedding", k = 8, iters = 3)
        Similarity.ivfAssign(e, centroids, "vec_id", "embedding", "centroid_id")
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_vectors"))
      },
      None),

    // Sign-LSH bucket histogram (8 md5-derived hyperplanes -> 256 buckets).
    Q("q_lsh_buckets",
      (s, dir) => t(s, dir, "embeddings")
        .select(Similarity.signLshBucket(col("embedding"), 64, 8).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vectors")),
      Some("""
        WITH planes AS (
          SELECT p, list_transform(range(0, 64), i ->
                   list_reduce(list_transform(range(1, 9),
                       k -> (strpos('0123456789abcdef', substr(md5(CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)), k, 1)) - 1) * 16^(8-k)),
                     (x, y) -> x + y) / 4294967296.0 - 0.5) AS comps
          FROM (SELECT unnest(range(0, 8)) AS p)),
        buckets AS (
          SELECT e.vec_id,
                 CAST(sum(CASE WHEN list_reduce(list_transform(range(1, 65),
                                        i -> CAST(e.embedding[i] AS DOUBLE) * pl.comps[i]),
                                      (x, y) -> x + y) >= 0
                          THEN CAST(2^pl.p AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
          FROM embeddings e CROSS JOIN planes pl
          GROUP BY 1)
        SELECT bucket, count(*) AS n_vectors FROM buckets GROUP BY 1""")),

    // Deterministic hash-split sampling: stable train/valid/test assignment
    // from md5(doc_id) — the reproducible-holdout primitive every training
    // pipeline needs (same row -> same split on any engine, any run, any
    // partitioning; no rand()). Map-only at any scale.
    Q("q_hash_sample",
      (s, dir) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("bigint")
        t(s, dir, "documents").select(
          col("doc_id"),
          pmod(bucket, lit(100L)).as("pct_bucket"),
          when(pmod(bucket, lit(100L)) < 80, "train")
            .when(pmod(bucket, lit(100L)) < 90, "valid")
            .otherwise("test").as("split"))
      },
      Some("""
        WITH b AS (
          SELECT doc_id,
                 CAST(list_reduce(list_transform(range(1, 9),
                     k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), k, 1)) - 1) * 16^(8-k)),
                   (a, x) -> a + x) AS BIGINT) % 100 AS pct_bucket
          FROM documents)
        SELECT doc_id, pct_bucket,
               CASE WHEN pct_bucket < 80 THEN 'train'
                    WHEN pct_bucket < 90 THEN 'valid'
                    ELSE 'test' END AS split
        FROM b""")),

    // PII scrub: mask emails and phone-shaped tokens before a corpus ships
    // to training. The fixture injects deterministic PII per doc so the
    // masking is actually exercised; patterns are RE2-and-Java-regex-safe
    // so the oracle replays them.
    Q("q_pii_scrub",
      (s, dir) => {
        val withPii = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"))
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "555-[0-9]{4}"
        t(s, dir, "documents").select(
          col("doc_id"),
          regexp_count(withPii, lit(emailRe)).as("n_emails"),
          regexp_count(withPii, lit(phoneRe)).as("n_phones"),
          regexp_replace(regexp_replace(withPii, emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("scrubbed"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS with_pii
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(with_pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(with_pii, '555-[0-9]{4}')) AS n_phones,
               regexp_replace(regexp_replace(with_pii,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        FROM p""")),

    // Multimodal plumbing: binary media column -> batched per-partition
    // feature extraction (decode step stubbed; schema/batching real).
    Q("q_media_features",
      (s, dir) => Multimodal.extractFeatures(
        Multimodal.asBinaryMedia(t(s, dir, "documents"), "doc_id", "text")),
      Some("""
        SELECT doc_id, 'text' AS media_type,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               md5(text) AS checksum,
               ascii(substr(text, 1, 1)) / 255.0 AS feature_0
        FROM documents""")),

    // Multimodal frame sampling: every 2nd frame of each payload's
    // (deterministically stubbed) frame sequence — one-to-many explode.
    Q("q_frame_sample",
      (s, dir) => Multimodal.frameSample(
        Multimodal.asBinaryMedia(t(s, dir, "documents"), "doc_id", "text"), stride = 2),
      Some("""
        SELECT doc_id, 'text' AS media_type,
               unnest(range(0, strlen(text) % 7 + 1, 2)) AS frame_idx,
               md5(CAST(doc_id AS VARCHAR) || '|' ||
                   CAST(unnest(range(0, strlen(text) % 7 + 1, 2)) AS VARCHAR)) AS frame_checksum
        FROM documents""")),

    // Gopher-style repetition/quality gate (Rae et al. 2021 §A.1.1):
    // word count, mean word length, most-common-word mass, duplicate-bigram
    // mass, combined keep verdict. All-rational double arithmetic, so the
    // verdict itself is hash-verified, not just the raw counts.
    Q("q_gopher_quality",
      (s, dir) => Curation.gopherSignals(t(s, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH base AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM documents),
        b AS (
          SELECT doc_id, len(tk) AS n_words,
                 CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END AS n_bigrams,
                 CASE WHEN len(tk) >= 2
                      THEN len(list_distinct([array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))]))
                      ELSE 0 END AS n_bigrams_distinct
          FROM base),
        tc AS (
          SELECT doc_id, tk2 AS tok, count(*) AS cnt
          FROM (SELECT doc_id, unnest(tk) AS tk2 FROM base)
          GROUP BY 1, 2),
        pd AS (
          SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_cnt,
                 CAST(sum(cnt * length(tok)) AS BIGINT) AS char_sum
          FROM tc GROUP BY 1)
        SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words,
               CAST(pd.char_sum AS DOUBLE) / CAST(b.n_words AS DOUBLE) AS mean_word_len,
               CAST(pd.top_cnt AS DOUBLE) / CAST(b.n_words AS DOUBLE) AS top_word_frac,
               CASE WHEN b.n_bigrams > 0
                    THEN 1.0 - (CAST(b.n_bigrams_distinct AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE))
               END AS dup_bigram_frac,
               coalesce(
                 b.n_words >= 20 AND b.n_words <= 100000
                 AND (CAST(pd.char_sum AS DOUBLE) / CAST(b.n_words AS DOUBLE)) >= 2.0
                 AND (CAST(pd.char_sum AS DOUBLE) / CAST(b.n_words AS DOUBLE)) <= 12.0
                 AND (CAST(pd.top_cnt AS DOUBLE) / CAST(b.n_words AS DOUBLE)) <= 0.2
                 AND (CASE WHEN b.n_bigrams > 0
                       THEN 1.0 - (CAST(b.n_bigrams_distinct AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE))
                      END) <= 0.3,
                 false) AS keep
        FROM b LEFT JOIN pd ON pd.doc_id = b.doc_id""")),

    // Full Gopher n-gram repetition suite (Rae et al. 2112.11446 Table A1):
    // top 2/3/4-gram char mass + duplicated 5..10-gram char coverage +
    // keep verdict at the paper's thresholds — ONE fused codegen pass on
    // the Spark side (RepetitionStats), relational replay in the oracle.
    Q("q_repetition",
      (s, dir) => Curation.repetitionSignals(t(s, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH tkl AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
          FROM documents),
        ns AS (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n),
        g AS (
          SELECT t.doc_id, ns.n, CAST(u.i AS INT) AS i,
                 array_to_string(t.tk[CAST(u.i AS INT):CAST(u.i AS INT) + ns.n - 1], ' ') AS gram
          FROM tkl t CROSS JOIN ns, UNNEST(range(1, len(t.tk) - ns.n + 2)) u(i)
          WHERE len(t.tk) >= ns.n),
        c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        topf AS (
          SELECT doc_id, n, CAST(cnt * (length(gram) - (n - 1)) AS BIGINT) AS chars
          FROM (SELECT doc_id, n, gram, cnt,
                       row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram) AS rn
                FROM c WHERE n <= 4)
          WHERE rn = 1),
        cov AS (
          SELECT DISTINCT g.doc_id, g.n, CAST(u2.j AS INT) AS j
          FROM g JOIN c ON g.doc_id = c.doc_id AND g.n = c.n AND g.gram = c.gram,
               UNNEST(range(g.i, g.i + g.n)) u2(j)
          WHERE c.cnt > 1 AND g.n >= 5),
        covf AS (
          SELECT cov.doc_id, cov.n, CAST(sum(length(t.tk[cov.j])) AS BIGINT) AS chars
          FROM cov JOIN tkl t ON cov.doc_id = t.doc_id
          GROUP BY 1, 2),
        fr AS (SELECT * FROM topf UNION ALL SELECT * FROM covf),
        base AS (SELECT doc_id, length(array_to_string(tk, '')) AS total FROM tkl),
        wide AS (
          SELECT b.doc_id,
            COALESCE(max(CASE WHEN f.n = 2 THEN CAST(f.chars AS DOUBLE) / CAST(b.total AS DOUBLE) END), 0.0) AS top_2gram_frac,
            COALESCE(max(CASE WHEN f.n = 3 THEN CAST(f.chars AS DOUBLE) / CAST(b.total AS DOUBLE) END), 0.0) AS top_3gram_frac,
            COALESCE(max(CASE WHEN f.n = 4 THEN CAST(f.chars AS DOUBLE) / CAST(b.total AS DOUBLE) END), 0.0) AS top_4gram_frac,
            COALESCE(max(CASE WHEN f.n = 5 THEN CAST(f.chars AS DOUBLE) / CAST(b.total AS DOUBLE) END), 0.0) AS dup_5gram_frac,
            COALESCE(max(CASE WHEN f.n = 6 THEN CAST(f.chars AS DOUBLE) / CAST(b.total AS DOUBLE) END), 0.0) AS dup_6gram_frac,
            COALESCE(max(CASE WHEN f.n = 7 THEN CAST(f.chars AS DOUBLE) / CAST(b.total AS DOUBLE) END), 0.0) AS dup_7gram_frac,
            COALESCE(max(CASE WHEN f.n = 8 THEN CAST(f.chars AS DOUBLE) / CAST(b.total AS DOUBLE) END), 0.0) AS dup_8gram_frac,
            COALESCE(max(CASE WHEN f.n = 9 THEN CAST(f.chars AS DOUBLE) / CAST(b.total AS DOUBLE) END), 0.0) AS dup_9gram_frac,
            COALESCE(max(CASE WHEN f.n = 10 THEN CAST(f.chars AS DOUBLE) / CAST(b.total AS DOUBLE) END), 0.0) AS dup_10gram_frac
          FROM base b LEFT JOIN fr f ON b.doc_id = f.doc_id
          GROUP BY b.doc_id, b.total)
        SELECT *,
          top_2gram_frac <= 0.20 AND top_3gram_frac <= 0.18 AND top_4gram_frac <= 0.16
          AND dup_5gram_frac <= 0.15 AND dup_6gram_frac <= 0.14 AND dup_7gram_frac <= 0.13
          AND dup_8gram_frac <= 0.12 AND dup_9gram_frac <= 0.11 AND dup_10gram_frac <= 0.10 AS keep
        FROM wide""")),

    // Log-free TF-IDF top-3 terms per doc: (tf/dl)*(N/df) with explicit
    // parenthesization on both sides — every score is the same IEEE
    // expression in both engines, so the per-doc ranking hash-matches.
    Q("q_tfidf_topk",
      (s, dir) => Curation.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3),
      Some("""
        WITH pairs AS (
          SELECT doc_id, tk AS term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tk FROM documents)
          GROUP BY 1, 2),
        scored AS (
          SELECT doc_id, term, tf,
                 CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
                 CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl,
                 CAST((SELECT count(DISTINCT doc_id) FROM documents) AS BIGINT) AS n
          FROM pairs)
        SELECT doc_id, term, tf, df,
               (CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)) * (CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY
                (CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)) * (CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) DESC,
                term) AS rn
              FROM scored)
        WHERE rn <= 3""")),

    // Composition rebalancing: deterministic md5-bucket stratified sampling
    // (downsample dominant 'en' to 10%, keep the tail at 30%) — the rate
    // table is a broadcast dimension, the verdict partitioning-stable.
    Q("q_strat_sample",
      (s, dir) => Curation.stratifiedSample(
        t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang",
        ratesPermille = Map("en" -> 100), defaultPermille = 300),
      Some("""
        WITH b AS (
          SELECT doc_id, lang,
                 CAST(list_reduce(list_transform(range(1, 9),
                     k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), k, 1)) - 1) * 16^(8-k)),
                   (a, x) -> a + x) AS BIGINT) % 1000 AS strat_bucket
          FROM documents)
        SELECT doc_id, lang, strat_bucket
        FROM b
        WHERE strat_bucket < CASE WHEN lang = 'en' THEN 100 ELSE 300 END""")),

    // Temperature resampling (alpha = 0.5): keep rates from per-language
    // integer counts only — floor(1000 * sqrt(cnt_min / cnt_lang)) — so the
    // surviving composition is proportional to sqrt(share). sqrt is
    // IEEE-exact, so the rates (and therefore the kept-row SET) replay
    // bit-identically in DuckDB.
    Q("q_temperature_sample",
      (s, dir) => Curation.temperatureSample(
          t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang")
        .select("doc_id", "lang", "rate_permille", "temp_bucket"),
      Some("""
        WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1),
        r AS (
          SELECT lang, CAST(floor(1000.0 * sqrt(
                   CAST((SELECT min(cnt) FROM c) AS DOUBLE) / CAST(cnt AS DOUBLE)))
                 AS BIGINT) AS rate_permille
          FROM c),
        b AS (
          SELECT doc_id, lang,
                 CAST(list_reduce(list_transform(range(1, 9),
                     k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), k, 1)) - 1) * 16^(8-k)),
                   (a, x) -> a + x) AS BIGINT) % 1000 AS temp_bucket
          FROM documents)
        SELECT b.doc_id, b.lang, r.rate_permille, b.temp_bucket
        FROM b JOIN r USING (lang)
        WHERE b.temp_bucket < r.rate_permille""")),

    // Data-mixing schedule: deterministic proportional interleave toward a
    // target source composition — reading in schedule_key order yields the
    // alpha shares at every prefix, independent of native source sizes.
    // One tiny per-source count + broadcast dim + map-only key pass; the
    // key arithmetic is two exact integer-derived doubles and two ordered
    // divisions, replayed bit-for-bit by the oracle.
    Q("q_mix_schedule",
      (s, dir) => Curation.mixSchedule(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
        Map("en" -> 0.4, "zh" -> 0.1, "es" -> 0.15, "de" -> 0.15, "fr" -> 0.2)),
      Some("""
        WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        w AS (SELECT * FROM (VALUES ('en', 0.4), ('zh', 0.1), ('es', 0.15), ('de', 0.15), ('fr', 0.2)) AS t(lang, alpha)),
        b AS (
          SELECT doc_id, lang,
                 CAST(CAST(list_reduce(list_transform(range(1, 9),
                     k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), k, 1)) - 1) * 16^(8-k)),
                   (a, x) -> a + x) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
          FROM documents)
        SELECT b.doc_id, b.lang AS source,
               ((b.u * CAST(c.n AS DOUBLE)) / w.alpha) AS schedule_key
        FROM b JOIN c USING (lang) JOIN w USING (lang)""")),

    // Okapi BM25 retrieval for a fixed 3-term query, log-free Robertson
    // idf, per-term contributions summed in FIXED query-term order so the
    // double additions sequence identically in both engines. Top-20 by
    // (score desc, doc_id).
    Q("q_bm25_topk",
      (s, dir) => Curation.bm25Retrieve(
        t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("join", "scan", "vector"), topK = 20),
      Some("""
        WITH dl AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS dl
          FROM documents),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
        tf AS (
          SELECT doc_id, tk, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tk
                FROM documents)
          WHERE tk IN ('join', 'scan', 'vector')
          GROUP BY 1, 2),
        dft AS (SELECT tk, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        contrib AS (
          SELECT tf.doc_id, dl.dl, tf.tk,
                 ((CAST(st.n_docs AS DOUBLE) - CAST(dft.df AS DOUBLE) + 0.5) /
                  (CAST(dft.df AS DOUBLE) + 0.5)) *
                 ((CAST(tf.tf AS DOUBLE) * 2.2) /
                  (CAST(tf.tf AS DOUBLE) +
                   (1.2 * (0.25 + (0.75 * (CAST(dl.dl AS DOUBLE) /
                     (CAST(st.total_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))))) AS c
          FROM tf JOIN dl USING (doc_id) CROSS JOIN st JOIN dft USING (tk)),
        wide AS (
          SELECT doc_id, dl,
                 max(CASE WHEN tk = 'join' THEN c END) AS c1,
                 max(CASE WHEN tk = 'scan' THEN c END) AS c2,
                 max(CASE WHEN tk = 'vector' THEN c END) AS c3
          FROM contrib GROUP BY 1, 2)
        SELECT doc_id, dl,
               ((coalesce(c1, 0.0) + coalesce(c2, 0.0)) + coalesce(c3, 0.0)) AS bm25
        FROM wide
        ORDER BY bm25 DESC, doc_id
        LIMIT 20""")),

    // BPE subword-merge training, 3 rounds: corpus touched once for word
    // counts, rounds run at vocab grain, the merge table is integers and
    // strings only — exact by construction. The DuckDB oracle unrolls the
    // identical three rounds (same greedy left-to-right list_reduce merge
    // fold — canonical BPE, odd self-paired runs included).
    Q("q_bpe_merges",
      (s, dir) => Curation.bpeTrain(t(s, dir, "documents"), "text", rounds = 3),
      Some("""
        WITH v0 AS (
          SELECT ' ' || regexp_replace(tk, '(.)', '\1 ', 'g') AS sym, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tk FROM documents)
          GROUP BY 1),
        p1 AS (
          SELECT u.p[1] AS l, u.p[2] AS r, CAST(sum(b.n) AS BIGINT) AS pair_count
          FROM (SELECT list_filter(string_split(trim(sym), ' '), x -> x <> '') AS s, n FROM v0) b,
               UNNEST(list_transform(range(1, len(b.s)), i -> [b.s[i], b.s[i+1]])) AS u(p)
          GROUP BY 1, 2),
        b1 AS (SELECT l, r, pair_count FROM p1 ORDER BY pair_count DESC, l, r LIMIT 1),
        v1 AS (SELECT ' ' || list_reduce(
                 list_filter(string_split(trim(v.sym), ' '), x -> x <> ''),
                 (acc, t) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND t = b.r
                             THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r
                             ELSE acc || ' ' || t END) || ' ' AS sym, v.n
               FROM v0 v CROSS JOIN b1 b),
        p2 AS (
          SELECT u.p[1] AS l, u.p[2] AS r, CAST(sum(b.n) AS BIGINT) AS pair_count
          FROM (SELECT list_filter(string_split(trim(sym), ' '), x -> x <> '') AS s, n FROM v1) b,
               UNNEST(list_transform(range(1, len(b.s)), i -> [b.s[i], b.s[i+1]])) AS u(p)
          GROUP BY 1, 2),
        b2 AS (SELECT l, r, pair_count FROM p2 ORDER BY pair_count DESC, l, r LIMIT 1),
        v2 AS (SELECT ' ' || list_reduce(
                 list_filter(string_split(trim(v.sym), ' '), x -> x <> ''),
                 (acc, t) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND t = b.r
                             THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r
                             ELSE acc || ' ' || t END) || ' ' AS sym, v.n
               FROM v1 v CROSS JOIN b2 b),
        p3 AS (
          SELECT u.p[1] AS l, u.p[2] AS r, CAST(sum(b.n) AS BIGINT) AS pair_count
          FROM (SELECT list_filter(string_split(trim(sym), ' '), x -> x <> '') AS s, n FROM v2) b,
               UNNEST(list_transform(range(1, len(b.s)), i -> [b.s[i], b.s[i+1]])) AS u(p)
          GROUP BY 1, 2),
        b3 AS (SELECT l, r, pair_count FROM p3 ORDER BY pair_count DESC, l, r LIMIT 1)
        SELECT CAST(1 AS INT) AS round, l AS left_sym, r AS right_sym, l||r AS merged, pair_count FROM b1
        UNION ALL SELECT 2, l, r, l||r, pair_count FROM b2
        UNION ALL SELECT 3, l, r, l||r, pair_count FROM b3""")),

    // The trained merges APPLIED: per-word subword segmentation after the
    // same 3 rounds (train + encode are one declarative fold; the word is
    // recovered from the symbol string since merges only delete
    // delimiters). Vocab-grain output, exact strings+integers.
    Q("q_bpe_encode",
      (s, dir) => Curation.bpeEncode(t(s, dir, "documents"), "text", rounds = 3),
      Some("""
        WITH v0 AS (
          SELECT ' ' || regexp_replace(tk, '(.)', '\1 ', 'g') AS sym, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tk FROM documents)
          GROUP BY 1),
        p1 AS (
          SELECT u.p[1] AS l, u.p[2] AS r, CAST(sum(b.n) AS BIGINT) AS pair_count
          FROM (SELECT list_filter(string_split(trim(sym), ' '), x -> x <> '') AS s, n FROM v0) b,
               UNNEST(list_transform(range(1, len(b.s)), i -> [b.s[i], b.s[i+1]])) AS u(p)
          GROUP BY 1, 2),
        b1 AS (SELECT l, r FROM p1 ORDER BY pair_count DESC, l, r LIMIT 1),
        v1 AS (SELECT ' ' || list_reduce(
                 list_filter(string_split(trim(v.sym), ' '), x -> x <> ''),
                 (acc, t) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND t = b.r
                             THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r
                             ELSE acc || ' ' || t END) || ' ' AS sym, v.n
               FROM v0 v CROSS JOIN b1 b),
        p2 AS (
          SELECT u.p[1] AS l, u.p[2] AS r, CAST(sum(b.n) AS BIGINT) AS pair_count
          FROM (SELECT list_filter(string_split(trim(sym), ' '), x -> x <> '') AS s, n FROM v1) b,
               UNNEST(list_transform(range(1, len(b.s)), i -> [b.s[i], b.s[i+1]])) AS u(p)
          GROUP BY 1, 2),
        b2 AS (SELECT l, r FROM p2 ORDER BY pair_count DESC, l, r LIMIT 1),
        v2 AS (SELECT ' ' || list_reduce(
                 list_filter(string_split(trim(v.sym), ' '), x -> x <> ''),
                 (acc, t) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND t = b.r
                             THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r
                             ELSE acc || ' ' || t END) || ' ' AS sym, v.n
               FROM v1 v CROSS JOIN b2 b),
        p3 AS (
          SELECT u.p[1] AS l, u.p[2] AS r, CAST(sum(b.n) AS BIGINT) AS pair_count
          FROM (SELECT list_filter(string_split(trim(sym), ' '), x -> x <> '') AS s, n FROM v2) b,
               UNNEST(list_transform(range(1, len(b.s)), i -> [b.s[i], b.s[i+1]])) AS u(p)
          GROUP BY 1, 2),
        b3 AS (SELECT l, r FROM p3 ORDER BY pair_count DESC, l, r LIMIT 1),
        v3 AS (SELECT ' ' || list_reduce(
                 list_filter(string_split(trim(v.sym), ' '), x -> x <> ''),
                 (acc, t) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND t = b.r
                             THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r
                             ELSE acc || ' ' || t END) || ' ' AS sym, v.n
               FROM v2 v CROSS JOIN b3 b)
        SELECT replace(trim(sym), ' ', '') AS word, n, trim(sym) AS encoded FROM v3""")),

    // BPE tokenization applied at CORPUS grain — train (3 rounds) →
    // segment → positional subword ids, one verified path. The oracle
    // replays the identical fold, ranks subwords by (frequency desc,
    // subword), and re-applies segmentations positionally; everything is
    // integers and strings, exact by construction.
    Q("q_bpe_token_ids",
      (s, dir) => Curation.bpeTokenIds(
        t(s, dir, "documents"), "doc_id", "text", rounds = 3),
      Some("""
        WITH v0 AS (
          SELECT ' ' || regexp_replace(tk, '(.)', '\1 ', 'g') AS sym, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tk FROM documents)
          GROUP BY 1),
        p1 AS (
          SELECT u.p[1] AS l, u.p[2] AS r, CAST(sum(b.n) AS BIGINT) AS pair_count
          FROM (SELECT list_filter(string_split(trim(sym), ' '), x -> x <> '') AS s, n FROM v0) b,
               UNNEST(list_transform(range(1, len(b.s)), i -> [b.s[i], b.s[i+1]])) AS u(p)
          GROUP BY 1, 2),
        b1 AS (SELECT l, r FROM p1 ORDER BY pair_count DESC, l, r LIMIT 1),
        v1 AS (SELECT ' ' || list_reduce(
                 list_filter(string_split(trim(v.sym), ' '), x -> x <> ''),
                 (acc, t) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND t = b.r
                             THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r
                             ELSE acc || ' ' || t END) || ' ' AS sym, v.n
               FROM v0 v CROSS JOIN b1 b),
        p2 AS (
          SELECT u.p[1] AS l, u.p[2] AS r, CAST(sum(b.n) AS BIGINT) AS pair_count
          FROM (SELECT list_filter(string_split(trim(sym), ' '), x -> x <> '') AS s, n FROM v1) b,
               UNNEST(list_transform(range(1, len(b.s)), i -> [b.s[i], b.s[i+1]])) AS u(p)
          GROUP BY 1, 2),
        b2 AS (SELECT l, r FROM p2 ORDER BY pair_count DESC, l, r LIMIT 1),
        v2 AS (SELECT ' ' || list_reduce(
                 list_filter(string_split(trim(v.sym), ' '), x -> x <> ''),
                 (acc, t) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND t = b.r
                             THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r
                             ELSE acc || ' ' || t END) || ' ' AS sym, v.n
               FROM v1 v CROSS JOIN b2 b),
        p3 AS (
          SELECT u.p[1] AS l, u.p[2] AS r, CAST(sum(b.n) AS BIGINT) AS pair_count
          FROM (SELECT list_filter(string_split(trim(sym), ' '), x -> x <> '') AS s, n FROM v2) b,
               UNNEST(list_transform(range(1, len(b.s)), i -> [b.s[i], b.s[i+1]])) AS u(p)
          GROUP BY 1, 2),
        b3 AS (SELECT l, r FROM p3 ORDER BY pair_count DESC, l, r LIMIT 1),
        v3 AS (SELECT ' ' || list_reduce(
                 list_filter(string_split(trim(v.sym), ' '), x -> x <> ''),
                 (acc, t) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND t = b.r
                             THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r
                             ELSE acc || ' ' || t END) || ' ' AS sym, v.n
               FROM v2 v CROSS JOIN b3 b),
        seg AS (SELECT replace(trim(sym), ' ', '') AS word, n,
                       list_filter(string_split(trim(sym), ' '), x -> x <> '') AS subs
                FROM v3),
        vocab AS (
          SELECT sub, CAST(row_number() OVER (ORDER BY sum(n) DESC, sub) AS INT) AS token_id
          FROM (SELECT n, unnest(subs) AS sub FROM seg)
          GROUP BY sub),
        pos AS (
          SELECT doc_id, i - 1 AS pos, tk[i] AS word
          FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM documents),
               UNNEST(range(1, len(tk) + 1)) AS u(i)),
        app AS (
          SELECT p.doc_id, p.pos, j - 1 AS sub_pos, s.subs[j] AS sub
          FROM pos p JOIN seg s ON p.word = s.word,
               UNNEST(range(1, len(s.subs) + 1)) AS w(j))
        SELECT a.doc_id, CAST(a.pos AS INT) AS pos,
               CAST(a.sub_pos AS INT) AS sub_pos, v.token_id
        FROM app a JOIN vocab v ON a.sub = v.sub""")),

    // Deterministic per-language eval split: first 10 docs per language in
    // md5-of-id order — reproducible held-out set construction. Spark 4's
    // WindowGroupLimit pushes the rank<=10 filter below the sort, so each
    // group keeps a bounded top-k instead of fully sorting (no
    // single-partition window: partitioned by lang).
    Q("q_group_sample",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"))
          .withColumn("sample_rank", row_number().over(w))
          .filter(col("sample_rank") <= 10)
      },
      Some("""
        SELECT doc_id, lang, CAST(sample_rank AS INT) AS sample_rank
        FROM (SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
              FROM documents)
        WHERE sample_rank <= 10""")),

    // REAL image decode (netpbm P6 — zero-library raster format): encode a
    // deterministic well-formed PPM per doc, decode it with the actual
    // header/pixel parser, and hash-verify the decoded dimensions and
    // per-channel pixel means against the closed-form oracle.
    Q("q_image_decode",
      (s, dir) => Multimodal.decodeImageFeatures(
        Multimodal.pnmFixture(t(s, dir, "documents"), "doc_id"), Multimodal.decodePnm),
      Some("""
        WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
        px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM d)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               3 AS channels,
               CAST(sum((doc_id * 7 + 3 * p + 0) % 256) AS DOUBLE) / CAST(w * h AS BIGINT) AS mean_r,
               CAST(sum((doc_id * 7 + 3 * p + 1) % 256) AS DOUBLE) / CAST(w * h AS BIGINT) AS mean_g,
               CAST(sum((doc_id * 7 + 3 * p + 2) % 256) AS DOUBLE) / CAST(w * h AS BIGINT) AS mean_b
        FROM px GROUP BY doc_id, w, h""")),

    // REAL audio decode (PCM16 WAV — RIFF parses with zero libraries):
    // deterministic well-formed payloads through the actual chunk-walking
    // parser; decoded sample count, duration, mean amplitude, and RMS are
    // hash-verified against the closed-form oracle (sqrt is IEEE-exact).
    Q("q_audio_decode",
      (s, dir) => Multimodal.decodeWavFeatures(
        Multimodal.wavFixture(t(s, dir, "documents"), "doc_id")),
      Some("""
        WITH d AS (SELECT doc_id, 16 + doc_id % 17 AS n FROM documents),
        sm AS (SELECT doc_id, n, ((doc_id * 13 + unnest(range(0, n)) * 5) % 4096) - 2048 AS s
               FROM d)
        SELECT doc_id, 8000 AS sample_rate, 1 AS channels, 16 AS bits,
               CAST(n AS BIGINT) AS n_samples,
               CAST(n AS DOUBLE) / 8000 AS duration_sec,
               CAST(sum(s) AS DOUBLE) / n AS mean_amp,
               sqrt(CAST(sum(s * s) AS DOUBLE) / n) AS rms
        FROM sm GROUP BY doc_id, n""")),

    // REAL audio decimation (every-2nd-sample downsample, 8000 -> 4000 Hz):
    // the audio width cut, like image resize — O(n/factor) per row. The
    // oracle replays the kept-sample set and stats from the fixture's
    // closed-form PCM formula.
    Q("q_audio_decimate",
      (s, dir) => Multimodal.decimateWavFeatures(
        Multimodal.wavFixture(t(s, dir, "documents"), "doc_id"), factor = 2),
      Some("""
        WITH d AS (SELECT doc_id, 16 + doc_id % 17 AS n FROM documents),
        sm AS (SELECT doc_id, n, unnest(range(0, n)) AS k FROM d),
        f AS (SELECT doc_id, n, ((doc_id * 13 + k * 5) % 4096) - 2048 AS s FROM sm WHERE k % 2 = 0)
        SELECT doc_id, 4000 AS sample_rate_out, 8000 AS sample_rate_in,
               CAST((n + 1) // 2 AS BIGINT) AS n_samples_out,
               CAST(sum(s) AS DOUBLE) / ((n + 1) // 2) AS mean_amp,
               sqrt(CAST(sum(s * s) AS DOUBLE) / ((n + 1) // 2)) AS rms
        FROM f GROUP BY doc_id, n""")),

    // Perceptual image hash (dHash): 9x8 nearest-neighbor luminance grid,
    // difference bits, two unsigned 32-bit words. The fixture plants
    // near-duplicates (content keyed by doc_id % 250, +1/+2 byte shifts) —
    // real decoded bytes through the real parser, closed-form oracle.
    Q("q_image_phash",
      (s, dir) => Multimodal.dHashFeatures(
        Multimodal.dhashFixture(t(s, dir, "documents"), "doc_id")),
      Some(DHashSql + """
        SELECT doc_id, width, height, dhash_hi, dhash_lo FROM ph""")),

    // Image near-dup pairs by banded dHash join (4x16-bit bands, full
    // hamming verify <= 3). Pigeonhole makes the banding EXACT at this
    // threshold, so the oracle is the brute-force all-pairs scan the
    // banded plan must reproduce — the same guarantee the MinHash-LSH
    // family gets from its candidate oracle.
    Q("q_image_phash_pairs",
      (s, dir) => Multimodal.imageNearDupPairs(
        Multimodal.dHashFeatures(
          Multimodal.dhashFixture(t(s, dir, "documents"), "doc_id")),
        maxHamming = 3),
      // Family-grain replay (the r9 oracle-scale lesson): hamming depends
      // only on the hash words, so the all-pairs scan runs once per
      // distinct hash and members expand at the end (same-family pairs are
      // hamming 0 by identity) — diffed row-exact against the doc-grain
      // brute force at factor 10 (66s -> 4s; doc-grain grows quadratically
      // with replication, family-grain only in its expanded OUTPUT).
      Some(DHashSql + """,
        fam AS MATERIALIZED (
          SELECT min(doc_id) AS gid, list(doc_id) AS members, count(*) AS m,
                 dhash_hi, dhash_lo
          FROM ph GROUP BY dhash_hi, dhash_lo),
        fp AS MATERIALIZED (
          SELECT a.gid AS ga, c.gid AS gb,
                 CAST(bit_count(xor(a.dhash_hi, c.dhash_hi))
                      + bit_count(xor(a.dhash_lo, c.dhash_lo)) AS INT) AS hamming
          FROM fam a JOIN fam c ON a.gid < c.gid
          WHERE bit_count(xor(a.dhash_hi, c.dhash_hi))
                + bit_count(xor(a.dhash_lo, c.dhash_lo)) <= 3),
        mem AS MATERIALIZED (SELECT gid, unnest(members) AS doc_id FROM fam)
        SELECT least(xa.doc_id, xb.doc_id) AS a_id,
               greatest(xa.doc_id, xb.doc_id) AS b_id, fp.hamming
        FROM fp JOIN mem xa ON xa.gid = fp.ga JOIN mem xb ON xb.gid = fp.gb
        UNION ALL
        SELECT xa.doc_id AS a_id, xb.doc_id AS b_id, CAST(0 AS INT) AS hamming
        FROM fam JOIN mem xa ON xa.gid = fam.gid JOIN mem xb ON xb.gid = fam.gid
        WHERE fam.m >= 2 AND xa.doc_id < xb.doc_id"""),
      gate = Some(Gate(20, "pair OUTPUT is C(factor,2)-quadratic per " +
        "copy-family on replicated corpora (5.3M rows at factor 10, 14.2M " +
        "at factor 20 — value-gated through 20); q_image_phash_groups is " +
        "the linear scale contract and is value-gated at factor 50"))),

    // Windowed audio energy contour (frame 8 / hop 4 over the same PCM16
    // fixture): the VAD/silence-trim front-end. Overlapping hops and a
    // partial tail frame both occur at every fixture length (n in
    // [16, 32]); per-frame mean/RMS are single divisions of exact integer
    // sums + IEEE sqrt, so the doubles hash-replay. Map-only flatMap —
    // frame-grain row multiplication with zero shuffles.
    Q("q_audio_energy",
      (s, dir) => Multimodal.audioEnergy(
        Multimodal.wavFixture(t(s, dir, "documents"), "doc_id"),
        frameSamples = 8, hop = 4),
      Some("""
        WITH d AS (SELECT doc_id, 16 + doc_id % 17 AS n FROM documents),
        fr AS (SELECT doc_id, n, unnest(range(0, (n + 3) // 4)) AS f FROM d),
        sm AS (SELECT doc_id, n, f, unnest(range(f * 4, least(f * 4 + 8, n))) AS k FROM fr),
        ag AS (SELECT doc_id, f, count(*) AS m,
                      CAST(sum(((doc_id * 13 + k * 5) % 4096) - 2048) AS BIGINT) AS s1,
                      CAST(sum((((doc_id * 13 + k * 5) % 4096) - 2048)
                             * (((doc_id * 13 + k * 5) % 4096) - 2048)) AS BIGINT) AS s2
               FROM sm GROUP BY 1, 2)
        SELECT doc_id, CAST(f AS INT) AS frame_idx,
               CAST(f * 4 AS BIGINT) AS start_sample,
               CAST(m AS INT) AS n_samples,
               CAST(s1 AS DOUBLE) / m AS mean_amp,
               sqrt(CAST(s2 AS DOUBLE) / m) AS rms
        FROM ag""")),

    // Banded acoustic fingerprint (Shazam/Chromaprint shape) over a WAV
    // fixture with PLANTED near-duplicates (id and id+250 differ by a
    // global amplitude shift): per-frame mean-square energy quantized by
    // INTEGER division, 2-frame bands. Map-only — banding happens inside
    // the same flatMap that walks the samples, zero shuffles.
    Q("q_audio_fingerprint",
      (s, dir) => Multimodal.contourBands(
        Multimodal.wavDupFixture(t(s, dir, "documents"), "doc_id"),
        Multimodal.pcmFrameLevels(frameSamples = 8, hop = 4, qStep = 32768L), bandFrames = 2),
      Some(AudioFpSql + """
        SELECT doc_id, band_idx, band_sig FROM bd""")),

    // Audio near-dup pairs: banded candidates (>= 2 shared (band_idx,
    // band_sig) cells — the MinHash-LSH banding contract transplanted to
    // audio) VERIFIED exactly against the frame-level contour (same frame
    // grid, every level within +-1). On the planted fixture the verify
    // stage kills every coincidental band collision while keeping ~98% of
    // the +shift copies. Candidate-bounded work, never all-pairs.
    Q("q_audio_neardup_pairs",
      (s, dir) => {
        val media = Multimodal.wavDupFixture(t(s, dir, "documents"), "doc_id")
        val audio = Multimodal.pcmFrameLevels(frameSamples = 8, hop = 4, qStep = 32768L)
        Multimodal.contourNearDupPairs(
          Multimodal.contourBands(media, audio, bandFrames = 2),
          Multimodal.contourLevels(media, audio),
          minBands = 2, maxLevelDiff = 1L)
      },
      Some(AudioFpSql + """,
        cand AS (
          SELECT a.doc_id AS a_id, c.doc_id AS b_id, CAST(count(*) AS INT) AS n_bands
          FROM bd a JOIN bd c ON a.band_idx = c.band_idx AND a.band_sig = c.band_sig
            AND a.doc_id < c.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2),
        nfr AS (SELECT doc_id, count(*) AS nf FROM lv GROUP BY 1),
        ver AS (
          SELECT cand.a_id, cand.b_id, cand.n_bands,
                 CAST(count(*) AS INT) AS n_frames,
                 CAST(max(abs(la.level - lb.level)) AS BIGINT) AS max_level_diff
          FROM cand
          JOIN lv la ON la.doc_id = cand.a_id
          JOIN lv lb ON lb.doc_id = cand.b_id AND lb.frame_idx = la.frame_idx
          GROUP BY 1, 2, 3)
        SELECT ver.* FROM ver
        JOIN nfr na ON na.doc_id = ver.a_id
        JOIN nfr nb ON nb.doc_id = ver.b_id
        WHERE na.nf = nb.nf AND ver.n_frames = na.nf AND ver.max_level_diff <= 1"""),
      gate = Some(Gate(20, "pair OUTPUT is C(factor,2)-quadratic per " +
        "copy-family on replicated corpora (4.7M rows at factor 10 — " +
        "value-gated through 20); q_audio_neardup_groups is the linear " +
        "scale contract and is value-gated at factor 50"))),

    // Banded per-frame luma fingerprint over a Y4M fixture with PLANTED
    // near-duplicate clips (id and id+250 differ by a global luma shift):
    // the audio fingerprint contract transplanted to video. Quantized
    // levels are exact Long division chains; banding happens inside the
    // decode flatMap — map-only, zero shuffles.
    Q("q_video_fingerprint",
      (s, dir) => Multimodal.contourBands(
        Multimodal.y4mDupFixture(t(s, dir, "documents"), "doc_id"),
        Multimodal.y4mLumaLevels(qStep = 4L), bandFrames = 2),
      Some(VideoFpSql + """
        SELECT doc_id, band_idx, band_sig FROM bd""")),

    // Video near-dup pairs: banded candidates (>= 2 shared (band_idx,
    // band_sig) luma cells) VERIFIED exactly against the per-frame
    // contour — same frame grid, every level within +-1. Completes the
    // image/audio/video near-dup ladder; candidate-bounded work, never
    // all-pairs.
    Q("q_video_neardup_pairs",
      (s, dir) => {
        val media = Multimodal.y4mDupFixture(t(s, dir, "documents"), "doc_id")
        val video = Multimodal.y4mLumaLevels(qStep = 4L)
        Multimodal.contourNearDupPairs(
          Multimodal.contourBands(media, video, bandFrames = 2),
          Multimodal.contourLevels(media, video),
          minBands = 2, maxLevelDiff = 1L)
      },
      Some(VideoFpSql + """,
        cand AS (
          SELECT a.doc_id AS a_id, c.doc_id AS b_id, CAST(count(*) AS INT) AS n_bands
          FROM bd a JOIN bd c ON a.band_idx = c.band_idx AND a.band_sig = c.band_sig
            AND a.doc_id < c.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2),
        nfr AS (SELECT doc_id, count(*) AS nf FROM lv GROUP BY 1),
        ver AS (
          SELECT cand.a_id, cand.b_id, cand.n_bands,
                 CAST(count(*) AS INT) AS n_frames,
                 CAST(max(abs(la.level - lb.level)) AS BIGINT) AS max_level_diff
          FROM cand
          JOIN lv la ON la.doc_id = cand.a_id
          JOIN lv lb ON lb.doc_id = cand.b_id AND lb.frame_idx = la.frame_idx
          GROUP BY 1, 2, 3)
        SELECT ver.* FROM ver
        JOIN nfr na ON na.doc_id = ver.a_id
        JOIN nfr nb ON nb.doc_id = ver.b_id
        WHERE na.nf = nb.nf AND ver.n_frames = na.nf AND ver.max_level_diff <= 1"""),
      gate = Some(Gate(20, "pair OUTPUT is C(factor,2)-quadratic per " +
        "copy-family on replicated corpora (3.5M rows at factor 10 — " +
        "value-gated through 20); q_video_neardup_groups is the linear " +
        "scale contract and is value-gated at factor 50"))),

    // Image near-dup GROUPS — the scale-safe contract on duplicate-saturated
    // corpora, where the pair output above is C(f,2)-quadratic per
    // copy-family (5.3M rows at replication factor 10, BENCH_SF1). Family
    // collapse on the 64-bit dHash (the pair relation depends only on the
    // hash) bounds the banded join AND the connected components by
    // distinct-content count; output is one (member, group, canonical) row
    // per doc in the near-dup graph — linear at any replication factor.
    // The oracle replays the closure at the same family grain.
    Q("q_image_phash_groups",
      (s, dir) => Multimodal.imageNearDupGroups(
        Multimodal.dHashFeatures(
          Multimodal.dhashFixture(t(s, dir, "documents"), "doc_id")),
        maxHamming = 3),
      Some(DHashSql + """,
        fam AS (SELECT min(doc_id) AS gid, list(doc_id) AS members, count(*) AS m,
                       dhash_hi, dhash_lo
                FROM ph GROUP BY dhash_hi, dhash_lo),
        fe AS (SELECT a.gid AS x, b.gid AS y
               FROM fam a JOIN fam b ON a.gid < b.gid
               WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
                     + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 3),
        fund AS (SELECT x, y FROM fe UNION ALL SELECT y, x FROM fe
                 UNION ALL SELECT gid, gid FROM fam WHERE m >= 2),
        fcomp AS (
          SELECT v, min(r) AS label FROM (
            WITH RECURSIVE reach(v, r) AS (
              SELECT x, x FROM fund
              UNION
              SELECT reach.v, fund.y FROM reach JOIN fund ON fund.x = reach.r
            ) SELECT v, r FROM reach) GROUP BY v),
        mem AS (SELECT gid, unnest(members) AS doc_id FROM fam)
        SELECT mem.doc_id AS member_id, fcomp.label AS group_id,
               mem.doc_id = fcomp.label AS is_canonical
        FROM mem JOIN fcomp ON fcomp.v = mem.gid""")),

    // Audio near-dup GROUPS: the contour family collapse (identical level
    // contours => identical band signatures => identical pair relation)
    // runs candidates, verify, and CC at distinct-content grain and
    // expands members at the end — linear output where the pair form grew
    // C(f,2) per copy-family. Completes the audio dedup ladder with the
    // groups contract the text family already has.
    Q("q_audio_neardup_groups",
      (s, dir) => {
        val media = Multimodal.wavDupFixture(t(s, dir, "documents"), "doc_id")
        val audio = Multimodal.pcmFrameLevels(frameSamples = 8, hop = 4, qStep = 32768L)
        Multimodal.contourNearDupGroups(
          Multimodal.contourBands(media, audio, bandFrames = 2),
          Multimodal.contourLevels(media, audio),
          minBands = 2, maxLevelDiff = 1L)
      },
      Some(AudioFpSql + ContourGroupsSql)),

    // Video near-dup GROUPS: same contour family collapse over the per-frame
    // luma levels — the last rung of the media groups ladder.
    Q("q_video_neardup_groups",
      (s, dir) => {
        val media = Multimodal.y4mDupFixture(t(s, dir, "documents"), "doc_id")
        val video = Multimodal.y4mLumaLevels(qStep = 4L)
        Multimodal.contourNearDupGroups(
          Multimodal.contourBands(media, video, bandFrames = 2),
          Multimodal.contourLevels(media, video),
          minBands = 2, maxLevelDiff = 1L)
      },
      Some(VideoFpSql + ContourGroupsSql)),

    // Int8 scalar quantization of the embedding table (per-dim min/max
    // scaling): one stats pass + broadcast + map-only quantize. Emitted as
    // (vec_id, dim, q) rows; q and the dequantization are rational IEEE
    // arithmetic, replayed value-exact by the oracle.
    Q("q_quantize_int8",
      (s, dir) => Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding"),
      Some("""
        WITH dims AS (SELECT unnest(range(1, 65)) AS dim),
        x AS (SELECT vec_id, dim, CAST(embedding[CAST(dim AS INT)] AS DOUBLE) AS x
              FROM embeddings, dims),
        st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1)
        SELECT x.vec_id, CAST(x.dim AS BIGINT) AS dim,
               CAST(CASE WHEN st.mx > st.mn
                    THEN round(((x.x - st.mn) / (st.mx - st.mn)) * 255.0)
                    ELSE 0.0 END AS INT) AS q
        FROM x JOIN st USING (dim)""")),

    // Train/test decontamination: fraction of each test doc's distinct
    // 3-grams that occur anywhere in the train split (GPT-3 appendix-C
    // containment); an inverted-index semi-join on the gram hash, never
    // pairwise. Splits derive from the same md5 bucket as q_hash_sample.
    Q("q_decontam",
      (s, dir) => {
        val bucket = pmod(
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint"),
          lit(100L))
        val docs = Q.tSpread(s, dir, "documents")
        Curation.contamination(
          docs.filter(bucket < 80), docs.filter(bucket >= 90),
          "doc_id", "text", nGram = 3, threshold = 0.2)
      },
      Some("""
        WITH b AS (
          SELECT doc_id, text,
                 CAST(list_reduce(list_transform(range(1, 9),
                     k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), k, 1)) - 1) * 16^(8-k)),
                   (a, x) -> a + x) AS BIGINT) % 100 AS pb
          FROM documents),
        tr AS (SELECT DISTINCT substr(md5(unnest(CASE WHEN len(tk) >= 3
                 THEN [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)] ELSE [] END)), 1, 16) AS gh
               FROM (SELECT list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM b WHERE pb < 80)),
        te AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
                 THEN [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)] ELSE [] END) AS gs
               FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM b WHERE pb >= 90)),
        hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
                 FROM (SELECT doc_id, substr(md5(unnest(gs)), 1, 16) AS gh FROM te) x
                 JOIN tr USING (gh)
                 GROUP BY 1)
        SELECT te.doc_id, CAST(len(te.gs) AS BIGINT) AS n_grams,
               coalesce(h.n_hit, 0) AS n_hit,
               CASE WHEN len(te.gs) > 0
                    THEN CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(len(te.gs) AS DOUBLE)
               END AS contamination,
               coalesce((CASE WHEN len(te.gs) > 0
                    THEN CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(len(te.gs) AS DOUBLE)
               END) >= 0.2, false) AS flagged
        FROM te LEFT JOIN hits h ON h.doc_id = te.doc_id""")),

    // Context-window chunking: 64-token windows advancing by 48 (16-token
    // overlap), final short window kept — the tokenize-adjacent step every
    // training pipeline runs; pure per-row explode, no shuffle.
    Q("q_doc_chunks",
      (s, dir) => Curation.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 64, stride = 48),
      Some("""
        WITH base AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk,
                 len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS n
          FROM documents),
        k AS (
          SELECT doc_id, tk,
                 unnest(range(0, CASE WHEN n <= 64 THEN 0 ELSE (n - 64 + 47) // 48 END + 1)) AS chunk_idx
          FROM base WHERE n > 0)
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(len(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT) AS n_tokens,
               array_to_string(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text
        FROM k""")),

    // Canonical selection by QUALITY: the step after near-dup grouping —
    // each dedup group keeps its highest-quality member (tie -> lowest
    // doc id), singletons are their own canonical. Composes dedup groups
    // (simhash pairs -> convergent connected components) with the quality
    // score; one window over group-sized partitions. This is the
    // keep-the-best policy real pipelines use instead of keep-the-first.
    Q("q_canonical_selection",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val members = groups(s, dir).groups
          .select(col("member_id").as("doc_id"), col("group_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("group_id")).orderBy(col("quality").desc, col("doc_id"))
        docs.select(col("doc_id"), TextFns.qualityScore(col("text")).as("quality"))
          .join(members, Seq("doc_id"), "left")
          .withColumn("group_id", coalesce(col("group_id"), col("doc_id")))
          .withColumn("is_canonical", row_number().over(w) === 1)
      },
      Some(s"""$SimhashEdgesSql,$SimhashFamilyCompSql,
        scored AS (
          SELECT doc_id,
            least(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) / 50.0, 1.0) * 0.4
              + coalesce(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                         / CAST(nullif(length(text), 0) AS DOUBLE), 0.0) * 0.4
              + (1.0 - least(coalesce(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                                      / CAST(nullif(length(text), 0) AS DOUBLE), 0.0) * 5.0, 1.0)) * 0.2 AS quality
          FROM documents)
        SELECT s.doc_id, s.quality,
               coalesce(c.label, s.doc_id) AS group_id,
               row_number() OVER (PARTITION BY coalesce(c.label, s.doc_id)
                                  ORDER BY s.quality DESC, s.doc_id) = 1 AS is_canonical
        FROM scored s LEFT JOIN comp c ON c.v = s.doc_id"""),
      shares = Some(groups)),

    // Feature-hashing TF vectorizer (hashing trick, Weinberger et al.
    // ICML'09): md5-derived bucket mod 256 per token, sparse long-form
    // (doc, bucket, tf, weight) — one explode + one shuffle with map-side
    // combine; the text -> fixed-width-features bridge of every cheap
    // classifier / similarity stage.
    Q("q_hash_vectorize",
      (s, dir) => Curation.featureHashTf(
        t(s, dir, "documents"), "doc_id", "text", dims = 256),
      Some("""
        WITH tk AS (
          SELECT doc_id, len(toks) AS n, unnest(toks) AS tok
          FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks
                FROM documents))
        SELECT doc_id,
               CAST(list_reduce(list_transform(range(1, 9),
                   k -> (strpos('0123456789abcdef', substr(md5(tok), k, 1)) - 1) * 16^(8-k)),
                 (a, x) -> a + x) AS BIGINT) % 256 AS bucket,
               count(*) AS tf,
               CAST(count(*) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS weight
        FROM tk GROUP BY 1, 2""")),

    // Cross-document repeated spans (boilerplate detector): every 5-token
    // span occurring in >= 2 distinct documents — inverted-index aggregate
    // with map-side combine, |output| = frequent-span vocabulary, never
    // pairwise (Lee et al. 2107.06499 restricted to fixed-length spans).
    Q("q_dup_spans",
      (s, dir) => Curation.duplicateSpans(
        t(s, dir, "documents"), "doc_id", "text", spanTokens = 5, minDocs = 2),
      Some("""
        WITH g AS (
          SELECT doc_id, unnest(list_distinct(CASE WHEN len(tk) >= 5
                   THEN [array_to_string(tk[i:i+4], ' ') FOR i IN range(1, len(tk) - 3)] ELSE [] END)) AS span
          FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM documents))
        SELECT span, count(*) AS n_docs, min(doc_id) AS first_doc_id
        FROM g GROUP BY 1 HAVING count(*) >= 2""")),

    // Per-document boilerplate exposure: fraction of a doc's distinct
    // 5-token spans that are corpus boilerplate — the drop/downweight
    // signal for templated pages; same inverted-index discipline as
    // q_decontam, nothing pairwise.
    Q("q_boilerplate",
      (s, dir) => Curation.boilerplateRatio(
        t(s, dir, "documents"), "doc_id", "text", spanTokens = 5, minDocs = 2),
      Some("""
        WITH sh AS (
          SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 5
                   THEN [array_to_string(tk[i:i+4], ' ') FOR i IN range(1, len(tk) - 3)] ELSE [] END) AS gs
          FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM documents)),
        hot AS (
          SELECT sk FROM (SELECT substr(md5(unnest(gs)), 1, 16) AS sk, doc_id FROM sh)
          GROUP BY 1 HAVING count(*) >= 2),
        hits AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boiler
          FROM (SELECT doc_id, substr(md5(unnest(gs)), 1, 16) AS sk FROM sh) x
          JOIN hot USING (sk) GROUP BY 1)
        SELECT sh.doc_id, CAST(len(sh.gs) AS BIGINT) AS n_spans,
               coalesce(h.n_boiler, 0) AS n_boiler,
               CASE WHEN len(sh.gs) > 0
                    THEN CAST(coalesce(h.n_boiler, 0) AS DOUBLE) / CAST(len(sh.gs) AS DOUBLE)
               END AS boilerplate_ratio
        FROM sh LEFT JOIN hits h ON h.doc_id = sh.doc_id""")),

    // Variable-length exact-substring dedup (Lee et al. 2107.06499 §4.1,
    // ExactSubstr): maximal token extents covered by a >=5-token substring
    // occurring >=2 times in the corpus. The oracle replays the identical
    // characterization: duplicated positional 5-grams (md5-prefix keys),
    // merged to maximal intervals by the same lag/running-sum grouping —
    // all integers, exact by construction.
    Q("q_exact_substr",
      (s, dir) => Curation.exactSubstrSpans(
        Q.tSpread(s, dir, "documents"), "doc_id", "text", minTokens = 5, minCount = 2),
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
          FROM documents),
        g AS (
          SELECT doc_id, i - 1 AS pos,
                 substr(md5(array_to_string(tk[i:i+4], ' ')), 1, 16) AS gk
          FROM toks, UNNEST(range(1, len(tk) - 3)) AS u(i)
          WHERE len(tk) >= 5),
        dup AS (SELECT gk FROM g GROUP BY gk HAVING count(*) >= 2),
        cov AS (SELECT doc_id, pos FROM g WHERE gk IN (SELECT gk FROM dup)),
        b AS (SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
                          THEN 0 ELSE 1 END AS brk
              FROM cov),
        grp AS (SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid
                FROM b)
        SELECT doc_id,
               CAST(min(pos) AS INT) AS start_pos,
               CAST(max(pos) + 4 AS INT) AS end_pos,
               CAST((max(pos) - min(pos)) + 5 AS INT) AS span_tokens
        FROM grp GROUP BY doc_id, gid""")),

    // The REWRITE half of ExactSubstr: drop every token covered by a
    // duplicated >=5-token substring, reassemble the survivors in position
    // order (string_agg ORDER BY == sorted-struct array_join — exact
    // string equality), and count removals. One row per input document.
    Q("q_exact_substr_strip",
      (s, dir) => Curation.exactSubstrStrip(
        Q.tSpread(s, dir, "documents"), "doc_id", "text", minTokens = 5, minCount = 2),
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
          FROM documents),
        g AS (
          SELECT doc_id, i - 1 AS pos,
                 substr(md5(array_to_string(tk[i:i+4], ' ')), 1, 16) AS gk
          FROM toks, UNNEST(range(1, len(tk) - 3)) AS u(i)
          WHERE len(tk) >= 5),
        dup AS (SELECT gk FROM g GROUP BY gk HAVING count(*) >= 2),
        cov AS (SELECT doc_id, pos FROM g WHERE gk IN (SELECT gk FROM dup)),
        covp AS (SELECT DISTINCT doc_id, pos + d AS tpos
                 FROM cov, UNNEST(range(0, 5)) AS v(d)),
        alltok AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok
                   FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(i)),
        kept AS (SELECT a.doc_id, a.pos, a.tok
                 FROM alltok a LEFT JOIN covp c
                   ON a.doc_id = c.doc_id AND a.pos = c.tpos
                 WHERE c.tpos IS NULL)
        SELECT t.doc_id,
               coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text,
               CAST(count(k.pos) AS BIGINT) AS n_kept,
               CAST(len(t.tk) - count(k.pos) AS BIGINT) AS n_removed
        FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
        GROUP BY t.doc_id, len(t.tk)""")),

    // Boilerplate REMOVAL: same strip transform over the distinct-document
    // span convention (a 5-token span in >=2 DISTINCT docs is chrome;
    // within-doc repetition is not) — the rewrite q_boilerplate measures.
    Q("q_boilerplate_strip",
      (s, dir) => Curation.boilerplateStrip(
        t(s, dir, "documents"), "doc_id", "text", spanTokens = 5, minDocs = 2),
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
          FROM documents),
        g AS (
          SELECT doc_id, i - 1 AS pos,
                 substr(md5(array_to_string(tk[i:i+4], ' ')), 1, 16) AS gk
          FROM toks, UNNEST(range(1, len(tk) - 3)) AS u(i)
          WHERE len(tk) >= 5),
        dup AS (SELECT gk FROM g GROUP BY gk HAVING count(DISTINCT doc_id) >= 2),
        cov AS (SELECT doc_id, pos FROM g WHERE gk IN (SELECT gk FROM dup)),
        covp AS (SELECT DISTINCT doc_id, pos + d AS tpos
                 FROM cov, UNNEST(range(0, 5)) AS v(d)),
        alltok AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok
                   FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(i)),
        kept AS (SELECT a.doc_id, a.pos, a.tok
                 FROM alltok a LEFT JOIN covp c
                   ON a.doc_id = c.doc_id AND a.pos = c.tpos
                 WHERE c.tpos IS NULL)
        SELECT t.doc_id,
               coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text,
               CAST(count(k.pos) AS BIGINT) AS n_kept,
               CAST(len(t.tk) - count(k.pos) AS BIGINT) AS n_removed
        FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
        GROUP BY t.doc_id, len(t.tk)""")),

    // CCNet-style paragraph dedup (Wenzek et al. 2019 §3.1): keep the
    // globally FIRST occurrence of every distinct paragraph. The corpus
    // has no newline structure, so the query derives deterministic
    // multi-paragraph docs first (10-token chunks + a per-language shared
    // footer paragraph — the footer then genuinely dedups: one survivor
    // per language, ~499 drops at sf0.01). Hash-grain first-occurrence is
    // an aggregate + join, never a window over the hash.
    Q("q_paragraph_dedup",
      (s, dir) => {
        val toks = TextFns.tokens(col("text"))
        val chunks = transform(
          sequence(lit(0), ((size(toks) - lit(1)) / 10).cast("int")),
          i => array_join(slice(toks, i * 10 + 1, lit(10)), " "))
        val ptext = concat(
          array_join(chunks, "\n"), lit("\n"),
          concat(lit("shared footer "), col("lang")))
        Curation.paragraphDedup(
          Q.tSpread(s, dir, "documents").select(col("doc_id"), ptext.as("ptext")),
          "doc_id", "ptext")
      },
      Some("""
        WITH tkl AS (
          SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
          FROM documents),
        pt AS (
          SELECT doc_id,
                 array_to_string([array_to_string(tk[i*10+1:i*10+10], ' ')
                                  FOR i IN range(0, greatest(len(tk) - 1, 0) // 10 + 1)], chr(10))
                 || chr(10) || 'shared footer ' || lang AS ptext
          FROM tkl),
        paras AS (
          SELECT doc_id, CAST(i - 1 AS INT) AS para_idx, p[i] AS para
          FROM (SELECT doc_id,
                       list_filter(list_transform(string_split_regex(ptext, '\n+'), x -> trim(x)), x -> x <> '') AS p
                FROM pt),
               UNNEST(range(1, len(p) + 1)) u(i)),
        ranked AS (
          SELECT doc_id, para_idx, para,
                 row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rn
          FROM paras),
        kept AS (SELECT doc_id, para_idx, para FROM ranked WHERE rn = 1),
        tot AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY 1),
        re AS (
          SELECT doc_id,
                 string_agg(para, chr(10) ORDER BY para_idx) AS clean_text,
                 count(*) AS n_kept
          FROM kept GROUP BY 1)
        SELECT p.doc_id,
               coalesce(re.clean_text, '') AS clean_text,
               CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_paras_kept,
               CAST(coalesce(t.n_paras, 0) - coalesce(re.n_kept, 0) AS BIGINT) AS n_paras_dropped
        FROM pt p
        LEFT JOIN tot t ON t.doc_id = p.doc_id
        LEFT JOIN re ON re.doc_id = p.doc_id""")),

    // C4 quality filter (Raffel et al. 1910.10683 §2.2): terminal-punct /
    // min-words / "javascript" line rules + lorem-ipsum / curly-brace /
    // blocklist / min-lines document verdict. The fixture decorates the
    // corpus deterministically so every rule fires: line punctuation
    // cycles (doc_id+i)%4 (the '' arm drops), every 5th line is 3 words
    // (drops), and four planted lines exercise the javascript, lorem,
    // '{', and blocklist rules. One map-only pass, zero shuffles.
    Q("q_c4_filter",
      (s, dir) => {
        val toks = TextFns.tokens(col("text"))
        val id = col("doc_id")
        val body = transform(
          sequence(lit(0), ((size(toks) - lit(1)) / 8).cast("int")),
          i => concat(
            array_join(
              slice(toks, i * 8 + 1, when(i % 5 === 4, lit(3)).otherwise(lit(8))), " "),
            element_at(array(lit("."), lit("!"), lit("?"), lit("")),
              ((id + i) % 4 + 1).cast("int"))))
        def maybe(cond: org.apache.spark.sql.Column, line: String) =
          when(cond, array(lit(line))).otherwise(array().cast("array<string>"))
        val lines = concat(body,
          maybe(id % 6 === 0, "please enable javascript to continue browsing."),
          maybe(id % 17 === 0, "lorem ipsum dolor sit amet consectetur."),
          maybe(id % 13 === 0, "function() { return window.token; }"),
          maybe(id % 19 === 0, "this badword line would otherwise survive."))
        Curation.c4Filter(
          t(s, dir, "documents").select(id, array_join(lines, "\n").as("ptext")),
          "doc_id", "ptext", blocklist = Seq("badword"))
      },
      Some("""
        WITH tkl AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
          FROM documents),
        base AS (
          SELECT doc_id,
                 [array_to_string(tk[i*8+1 : i*8 + CASE WHEN i % 5 = 4 THEN 3 ELSE 8 END], ' ')
                    || ['.','!','?',''][CAST((doc_id + i) % 4 AS INT) + 1]
                  FOR i IN range(0, greatest(len(tk) - 1, 0) // 8 + 1)] AS ls
          FROM tkl),
        lns AS (
          SELECT doc_id,
                 ls
                 || CASE WHEN doc_id % 6 = 0 THEN ['please enable javascript to continue browsing.'] ELSE CAST([] AS VARCHAR[]) END
                 || CASE WHEN doc_id % 17 = 0 THEN ['lorem ipsum dolor sit amet consectetur.'] ELSE CAST([] AS VARCHAR[]) END
                 || CASE WHEN doc_id % 13 = 0 THEN ['function() { return window.token; }'] ELSE CAST([] AS VARCHAR[]) END
                 || CASE WHEN doc_id % 19 = 0 THEN ['this badword line would otherwise survive.'] ELSE CAST([] AS VARCHAR[]) END AS ls
          FROM base),
        f AS (
          SELECT doc_id, ls, array_to_string(ls, chr(10)) AS ptext,
                 list_filter(ls, l -> right(l, 1) IN ('.', '!', '?', '"')
                     AND len(list_filter(string_split_regex(l, '\s+'), t -> t <> '')) >= 5
                     AND NOT contains(lower(l), 'javascript')) AS kl
          FROM lns)
        SELECT doc_id,
               coalesce(array_to_string(kl, chr(10)), '') AS clean_text,
               CAST(len(ls) AS BIGINT) AS n_lines,
               CAST(len(kl) AS BIGINT) AS n_lines_kept,
               (len(kl) >= 3 AND NOT contains(lower(ptext), 'lorem ipsum')
                 AND NOT contains(ptext, '{')
                 AND NOT contains(lower(ptext), 'badword')) AS keep
        FROM f""")),

    // HTML main-content extraction (boilerpipe/jusText front end): the
    // fixture wraps each document's token chunks in a real page skeleton —
    // style + script heads, a nav menu that must die by link density, an
    // inline anchor that must survive inside its paragraph (doc_id%3),
    // a too-short div (doc_id%4), a comment. Map-only regexp/HOF pass;
    // the oracle replays the identical RE2 chain.
    Q("q_html_extract",
      (s, dir) => {
        val toks = TextFns.tokens(col("text"))
        val id = col("doc_id")
        val nChunk = ((size(toks) - lit(1)) / 8).cast("int")
        val para0 = when(id % 3 === 0,
          concat(lit("<p><a href=\"/l\">"), array_join(slice(toks, 1, 2), " "),
            lit("</a> "), array_join(slice(toks, 3, 6), " "), lit("</p>")))
          .otherwise(concat(lit("<p>"), array_join(slice(toks, 1, 8), " "), lit("</p>")))
        val paras = array_join(
          transform(
            when(nChunk >= 1, sequence(lit(1), nChunk))
              .otherwise(array().cast("array<int>")),
            i => concat(lit("<p>"), array_join(slice(toks, i * 8 + 1, lit(8)), " "), lit("</p>"))),
          "")
        val html = concat(
          lit("<html><head><style>p { margin: 0 }</style>" +
            "<script>var t = 'x';</script></head><body>"),
          lit("<nav><a href=\"/\">home</a> <a href=\"/a\">about</a> " +
            "<a href=\"/c\">contact</a></nav>"),
          para0, paras,
          when(id % 4 === 0, lit("<div>ok</div>")).otherwise(lit("")),
          lit("<!-- tail comment --></body></html>"))
        Curation.htmlExtract(
          Q.tSpread(s, dir, "documents").select(id, html.as("html")), "doc_id", "html")
      },
      Some("""
        WITH tkl AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
          FROM documents),
        fx AS (SELECT doc_id,
           '<html><head><style>p { margin: 0 }</style><script>var t = ''x'';</script></head><body>'
           || '<nav><a href="/">home</a> <a href="/a">about</a> <a href="/c">contact</a></nav>'
           || CASE WHEN doc_id % 3 = 0
                THEN '<p><a href="/l">' || array_to_string(tk[1:2], ' ') || '</a> '
                     || array_to_string(tk[3:8], ' ') || '</p>'
                ELSE '<p>' || array_to_string(tk[1:8], ' ') || '</p>' END
           || coalesce(array_to_string(['<p>' || array_to_string(tk[i*8+1:i*8+8], ' ') || '</p>'
                 FOR i IN range(1, greatest(len(tk) - 1, 0) // 8 + 1)], ''), '')
           || CASE WHEN doc_id % 4 = 0 THEN '<div>ok</div>' ELSE '' END
           || '<!-- tail comment --></body></html>' AS html FROM tkl),
        nos AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(html,
             '(?is)<script[^>]*>.*?</script>', '', 'g'),
             '(?is)<style[^>]*>.*?</style>', '', 'g'),
             '(?s)<!--.*?-->', '', 'g') AS h FROM fx),
        bl AS (SELECT doc_id,
           string_split_regex(h, '(?i)</?(p|div|h[1-6]|li|br|nav|header|footer)[^>]*>') AS bs
           FROM nos),
        blocks AS (SELECT doc_id, i AS bi,
           trim(regexp_replace(regexp_replace(bs[i], '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS btext,
           trim(regexp_replace(regexp_replace(
               coalesce(array_to_string(regexp_extract_all(bs[i], '(?is)<a[^>]*>(.*?)</a>', 1), ' '), ''),
               '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS atext
           FROM bl, UNNEST(range(1, len(bs) + 1)) u(i)),
        counted AS (SELECT doc_id, bi, btext,
           len(list_filter(string_split_regex(btext, '\s+'), t -> t <> '')) AS nw,
           len(list_filter(string_split_regex(atext, '\s+'), t -> t <> '')) AS lw
           FROM blocks WHERE btext <> ''),
        kept AS (SELECT doc_id, bi, btext FROM counted WHERE nw >= 3 AND lw <= 0.5 * nw),
        re AS (SELECT doc_id, string_agg(btext, chr(10) ORDER BY bi) AS ct, count(*) AS nk
               FROM kept GROUP BY 1),
        tot AS (SELECT doc_id, count(*) AS nb FROM counted GROUP BY 1)
        SELECT d.doc_id, coalesce(re.ct, '') AS clean_text,
               CAST(coalesce(tot.nb, 0) AS BIGINT) AS n_blocks,
               CAST(coalesce(re.nk, 0) AS BIGINT) AS n_blocks_kept
        FROM fx d
        LEFT JOIN tot ON tot.doc_id = d.doc_id
        LEFT JOIN re ON re.doc_id = d.doc_id""")),

    // Deterministic training-order shuffle: salt-keyed md5 order, 8
    // shards, rank within shard. One shuffle + per-shard sort (the
    // repartition-then-sort-within-partitions write path; nShards is
    // thousands at real scale). Hash-exact vs the DuckDB replay of the
    // same md5 ranking.
    Q("q_corpus_shuffle",
      (s, dir) => Curation.corpusShuffle(
        t(s, dir, "documents"), "doc_id", salt = "epoch0", nShards = 8),
      Some("""
        WITH b AS (
          SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        sh AS (
          SELECT doc_id, h,
                 CAST(list_reduce(list_transform(range(1, 9),
                     k -> (strpos('0123456789abcdef', substr(h, k, 1)) - 1) * 16^(8-k)),
                   (a, x) -> a + x) AS BIGINT) % 8 AS shard
          FROM b)
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY h) - 1 AS BIGINT) AS pos,
               h AS order_key
        FROM sh""")),

    // Crawl-URL canonicalization: the fixture builds messy real-world
    // variants (case-shifted scheme/host, userinfo, default + nonstandard
    // ports, trailing slashes, tracking params, fragments) and the
    // operator's canonical form must agree with the DuckDB replay of the
    // same regexp chain. Map-only.
    Q("q_url_canonical",
      (s, dir) => Curation.urlCanonicalize(urlFixture(s, dir), "doc_id", "url"),
      Some(UrlCanonSql + """
        SELECT doc_id, url, canon_url, domain, path FROM canon""")),

    // URL-grain crawl dedup over the canonical form: earliest doc survives,
    // duplicate mass per canonical URL. ONE shuffle with map-side combine —
    // the standard crawl-frontier compaction at 100 TB.
    Q("q_url_dedup",
      (s, dir) => Curation.urlDedup(urlFixture(s, dir), "doc_id", "url"),
      Some(UrlCanonSql + """
        SELECT canon_url, CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS n_urls, min(domain) AS domain
        FROM canon GROUP BY 1""")),

    // Host-level weighted link graph from raw page HTML: regex-extract
    // absolute <a href> targets, normalize src + dst through the SAME host
    // chain urlCanonicalize uses, count multiplicity. Relative links and
    // non-http(s) schemes are dropped; self-links survive. ONE shuffle
    // with map-side combine on the (src_host, dst_host) pair.
    Q("q_link_graph",
      (s, dir) => Curation.linkGraph(linkFixture(s, dir), "doc_id", "html", "url"),
      Some(LinkGraphSql + """
        SELECT src_host, dst_host, n_links FROM lg""")),

    // CommonCrawl-style domain rank: linkGraph -> PageRank (3 damped
    // iterations) — the source-authority weight curation pipelines assign
    // crawled hosts. PageRank distincts the edge list (rank is a
    // graph-topology signal; link multiplicity is q_link_graph's business),
    // and the per-node neighbor sum is the same ordered fold the
    // q_pagerank oracle replays, so the doubles are bit-exact in DuckDB.
    Q("q_domain_rank",
      (s, dir) => PageRank.run(
          Curation.linkGraph(linkFixture(s, dir), "doc_id", "html", "url"),
          "src_host", "dst_host", iterations = 3)
        .withColumnRenamed("node", "host"),
      Some(LinkGraphSql + """
        , e AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM lg),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM n),
        od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
        ed AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
        r0 AS (SELECT node, (CAST(1.0 AS DOUBLE) / CAST(n_nodes AS DOUBLE)) AS rank
               FROM n CROSS JOIN nn),
        s1 AS (SELECT ed.dst, list_reduce(list_sort(list(r.rank / CAST(ed.outdeg AS DOUBLE))),
                        (a, x) -> a + x) AS s
               FROM ed JOIN r0 r ON r.node = ed.src GROUP BY 1),
        r1 AS (SELECT n.node,
                      ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) +
                       (CAST(0.85 AS DOUBLE) * coalesce(s1.s, CAST(0.0 AS DOUBLE)))) AS rank
               FROM n LEFT JOIN s1 ON s1.dst = n.node),
        s2 AS (SELECT ed.dst, list_reduce(list_sort(list(r.rank / CAST(ed.outdeg AS DOUBLE))),
                        (a, x) -> a + x) AS s
               FROM ed JOIN r1 r ON r.node = ed.src GROUP BY 1),
        r2 AS (SELECT n.node,
                      ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) +
                       (CAST(0.85 AS DOUBLE) * coalesce(s2.s, CAST(0.0 AS DOUBLE)))) AS rank
               FROM n LEFT JOIN s2 ON s2.dst = n.node),
        s3 AS (SELECT ed.dst, list_reduce(list_sort(list(r.rank / CAST(ed.outdeg AS DOUBLE))),
                        (a, x) -> a + x) AS s
               FROM ed JOIN r2 r ON r.node = ed.src GROUP BY 1),
        r3 AS (SELECT n.node,
                      ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) +
                       (CAST(0.85 AS DOUBLE) * coalesce(s3.s, CAST(0.0 AS DOUBLE)))) AS rank
               FROM n LEFT JOIN s3 ON s3.dst = n.node)
        SELECT node AS host, rank FROM r3""")),

    // End-to-end web-curation DAG: htmlExtract -> c4Filter -> urlDedup ->
    // paragraphDedup -> exactSubstrStrip composed over ONE page fixture
    // (the urlExpr messy URL + an HTML wrapping of the document's token
    // chunks: script head, link-dense nav, planted c4-rule lines, a
    // per-lang shared footer paragraph). One verdict row per stage —
    // (stage_idx, stage, surviving docs, surviving tokens) — so the gate
    // proves the crawl operators COMPOSE: every stage consumes the
    // previous stage's clean_text and the oracle replays the whole
    // five-stage cascade. Scale shape is the sum of the stages' shapes:
    // map-only extract + filter, one URL-grain shuffle, one paragraph-hash
    // shuffle, and the inverted-index gram pass — nothing pairwise.
    // Training-side pipeline composition — the model-data counterpart of
    // q_web_pipeline's crawl cascade: Gopher quality gate -> exact
    // content-hash dedup -> fuzzy dedup groups (MinHash -> connected
    // components, canonical member survives) -> cross-corpus MinHash
    // decontamination against the eval split (doc_id >= 400) -> mixing-
    // schedule epoch prefix (key <= 40). Each stage reports surviving
    // (n_docs, n_tokens); the oracle replays the WHOLE cascade, including
    // the recursive-CTE closure and the banding arithmetic, bit-for-bit.
    // Shapes are the stages' own: map-only gate, two keyed shuffles,
    // band-bounded candidate joins, broadcast mix dim — nothing pairwise.
    //
    // The replay runs at identical-TEXT FAMILY grain (r9 oracle-scale
    // lesson, applied here in r12 after the doc-grain replay blew the 600s
    // watchdog at factor 100): every stage is a pure function of the text,
    // so quality signals, fingerprints, and minhash bands are computed once
    // per family rep and doc grain is restored where it matters — stage 1
    // sums member-weighted (m, m*nt); k2's min-doc-id is the min of family
    // minima; the decontamination right side collapses to the rep of each
    // family holding any eval-split member (band collisions and Jaccard
    // are text-functions, so the EXISTS transfers exactly, including the
    // rep-vs-itself pair when a family straddles the 400 cut). On the
    // replicated corpora the doc-grain band self-join grew f² candidates
    // per family (113s at f50, 656s timeout at f100); this form is
    // base-bounded everywhere past the one GROUP BY text.
    Q("q_training_pipeline",
      (s, dir) => {
        val docs = Q.tSpread(s, dir, "documents")
        val ntok = size(TextFns.tokens(col("text"))).cast("long")
        // the gate-id frame is TINY (ids only) but its producer is the
        // full Gopher signal pass (token explode + two aggregations over
        // every doc); it is consumed by two separate query executions —
        // the s2 cache fill (during the CC pair build) and the stage-1
        // summary branch of the final action — and exchange reuse never
        // spans executions, so without the persist the whole gate ran
        // twice (§1.2 "don't compute things you throw away"; §8: decide
        // with small rows). Released when the line ends.
        val s1ids = Materialize.cache(Curation.gopherSignals(docs, "doc_id", "text")
          .filter(col("keep")).select("doc_id"))
        // per-doc token count computed ONCE at the gate and carried as a
        // column through the cached s2: each of the five stage() summary
        // branches used to re-run tokenize+size over its whole stage frame
        // just to sum token counts (§1.2 "don't compute things you throw
        // away" — 4 redundant tokenize passes in the one final action)
        val s1 = docs.join(s1ids, Seq("doc_id")).withColumn("__n", ntok)
        val fp = md5(array_join(array_sort(array_distinct(TextFns.tokens(col("text")))), " "))
        val keep2 = s1.select(col("doc_id"), fp.as("__fp"))
          .groupBy(col("__fp")).agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val s2 = Materialize.cache(s1.join(keep2, Seq("doc_id")))
        val pairs = TextDedup.minhashDupPairs(s2, "doc_id", "text",
          shingleWords = 2, bands = 4, rowsPerBand = 3, threshold = 0.5,
          family = TextDedup.HexMd5)
        val dupDrop = ConnectedComponents
          .dedupGroups(pairs.select(col("a_id"), col("b_id")), "a_id", "b_id")
          .filter(!col("is_canonical"))
          .select(col("member_id").as("doc_id"))
        val s3 = s2.join(dupDrop, Seq("doc_id"), "left_anti")
        val train = s3.filter(col("doc_id") < 400)
        // cached: the s4 and s5 summary branches both read the flagged ids,
        // and unstored the cross-corpus join ran once per branch (153 jobs
        // instead of 110 at sf0.1)
        val flagged = Materialize.cache(TextDedup.crossCorpusDupPairs(
          train, docs.filter(col("doc_id") >= 400), "doc_id", "text",
          shingleWords = 2, bands = 4, rowsPerBand = 3, threshold = 0.5,
          family = TextDedup.HexMd5)
          .select(col("a_id").as("doc_id")).distinct())
        // explicit broadcast: `flagged` holds train ids only (doc_id < 400),
        // and unhinted AQE sizes it from the cache's estimate, which depends
        // on whether the cache has filled yet — the join then shuffled in
        // some runs and not others, and the line's job count varied
        val s4 = train.join(broadcast(flagged), Seq("doc_id"), "left_anti")
        val s5 = Curation.mixSchedule(
            s4.select(col("doc_id"), col("lang")), "doc_id", "lang",
            Map("en" -> 0.4, "zh" -> 0.1, "es" -> 0.15, "de" -> 0.15, "fr" -> 0.2))
          .filter(col("schedule_key") <= 40.0)
          .select("doc_id")
          // s5's ids are a subset of s4 ⊆ s2, so joining the CACHED s2
          // (which carries __n) is row-identical to re-joining the parquet
          // docs — and skips a scan plus a tokenize in the summary branch
          .join(s2, Seq("doc_id"))
        def stage(df: org.apache.spark.sql.DataFrame, idx: Int, name: String) =
          df.select(col("__n"))
            .agg(count(lit(1)).as("__d"), sum(col("__n")).as("__t"))
            .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
              coalesce(col("__d"), lit(0L)).as("n_docs"),
              coalesce(col("__t"), lit(0L)).as("n_tokens"))
        stage(s1, 1, "quality_gate")
          .unionByName(stage(s2, 2, "exact_dedup"))
          .unionByName(stage(s3, 3, "fuzzy_dedup"))
          .unionByName(stage(s4, 4, "decontaminate"))
          .unionByName(stage(s5, 5, "mix_epoch_prefix"))
      },
      Some("""
        WITH dfam AS MATERIALIZED (
          SELECT min(doc_id) AS gid, count(*) AS m,
                 list_min(list_filter(list(doc_id), d -> d >= 400)) AS rgid,
                 list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
          FROM documents GROUP BY text),
        gb AS (
          SELECT gid, len(tk) AS n_words,
                 CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END AS nb,
                 CASE WHEN len(tk) >= 2
                      THEN len(list_distinct([array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))]))
                      ELSE 0 END AS nbd
          FROM dfam),
        gtc AS (
          SELECT gid, tk2 AS tok, count(*) AS cnt
          FROM (SELECT gid, unnest(tk) AS tk2 FROM dfam) GROUP BY 1, 2),
        gpd AS (
          SELECT gid, CAST(max(cnt) AS BIGINT) AS top_cnt,
                 CAST(sum(cnt * length(tok)) AS BIGINT) AS char_sum
          FROM gtc GROUP BY 1),
        k1 AS MATERIALIZED (
          SELECT gb.gid FROM gb JOIN gpd USING (gid)
          WHERE gb.n_words >= 20 AND gb.n_words <= 100000
            AND (CAST(gpd.char_sum AS DOUBLE) / CAST(gb.n_words AS DOUBLE)) >= 2.0
            AND (CAST(gpd.char_sum AS DOUBLE) / CAST(gb.n_words AS DOUBLE)) <= 12.0
            AND (CAST(gpd.top_cnt AS DOUBLE) / CAST(gb.n_words AS DOUBLE)) <= 0.2
            AND gb.nb > 0
            AND (1.0 - (CAST(gb.nbd AS DOUBLE) / CAST(gb.nb AS DOUBLE))) <= 0.3),
        k2 AS MATERIALIZED (
          SELECT min(gid) AS doc_id
          FROM (SELECT gid, md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS f
                FROM dfam JOIN k1 USING (gid))
          GROUP BY f),
        rfam AS MATERIALIZED (SELECT gid FROM dfam WHERE rgid IS NOT NULL),
        sd AS (SELECT doc_id FROM k2 UNION SELECT gid FROM rfam),
        sh AS MATERIALIZED (
          SELECT gid AS doc_id,
            CASE WHEN len(tk) >= 2
                 THEN list_distinct([array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))])
                 ELSE [] END AS s
          FROM dfam JOIN sd ON dfam.gid = sd.doc_id),
        bss AS (
          SELECT doc_id, list_transform(s, x ->
            CAST(list_reduce(list_transform(range(1, 8),
                k -> (strpos('0123456789abcdef', substr(md5(x), k, 1)) - 1) * 16^(7-k)),
              (a, b) -> a + b) AS BIGINT)) AS bs
          FROM sh WHERE len(s) > 0),
        sig AS (
          SELECT doc_id, [list_min(list_transform(bs,
                   b -> (((1103515245 * (h+1)) % 2147483647) * b + 12345 * (h+1)) % 2147483647))
                 FOR h IN range(0, 12)] AS sg
          FROM bss),
        banded AS MATERIALIZED (
          SELECT doc_id, b,
                 md5(CAST(b AS VARCHAR) || '|' || array_to_string(sg[b*3+1:b*3+3], '|')) AS bh
          FROM sig, (SELECT unnest(range(0, 4)) AS b)),
        cand23 AS (
          SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
          FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id
          WHERE l.doc_id IN (SELECT doc_id FROM k2) AND r.doc_id IN (SELECT doc_id FROM k2)),
        e AS MATERIALIZED (
          SELECT a_id, b_id FROM cand23
          JOIN sh sa ON sa.doc_id = a_id
          JOIN sh sb ON sb.doc_id = b_id
          WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(nullif(len(list_distinct(list_concat(sa.s, sb.s))), 0) AS DOUBLE) >= 0.5),
        und AS MATERIALIZED (SELECT a_id AS x, b_id AS y FROM e UNION ALL SELECT b_id, a_id FROM e),
        comp AS MATERIALIZED (
          SELECT v, min(r) AS label FROM (
            WITH RECURSIVE reach(v, r) AS (
              SELECT x, x FROM und
              UNION
              SELECT reach.v, und.y FROM reach JOIN und ON und.x = reach.r
            ) SELECT v, r FROM reach) GROUP BY v),
        k3 AS MATERIALIZED (
          SELECT doc_id FROM k2
          WHERE doc_id NOT IN (SELECT v FROM comp WHERE v <> label)),
        trn AS MATERIALIZED (SELECT doc_id FROM k3 WHERE doc_id < 400),
        candx AS (
          SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
          FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh
          WHERE l.doc_id IN (SELECT doc_id FROM trn)
            AND r.doc_id IN (SELECT gid FROM rfam)),
        flagged AS (
          SELECT DISTINCT a_id FROM candx
          JOIN sh sa ON sa.doc_id = a_id
          JOIN sh sb ON sb.doc_id = b_id
          WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(nullif(len(list_distinct(list_concat(sa.s, sb.s))), 0) AS DOUBLE) >= 0.5),
        k4 AS MATERIALIZED (SELECT doc_id FROM trn WHERE doc_id NOT IN (SELECT a_id FROM flagged)),
        mc AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n
          FROM documents JOIN k4 USING (doc_id) GROUP BY 1),
        mw AS (SELECT * FROM (VALUES ('en', 0.4), ('zh', 0.1), ('es', 0.15), ('de', 0.15), ('fr', 0.2)) AS t(lang, alpha)),
        k5 AS (
          SELECT d.doc_id FROM documents d
          JOIN k4 USING (doc_id) JOIN mc USING (lang) JOIN mw USING (lang)
          WHERE ((CAST(CAST(list_reduce(list_transform(range(1, 9),
                   k -> (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), k, 1)) - 1) * 16^(8-k)),
                 (a, x) -> a + x) AS BIGINT) AS DOUBLE) / 4294967296.0
                 * CAST(mc.n AS DOUBLE)) / mw.alpha) <= 40.0),
        tok AS MATERIALIZED (SELECT gid, m, CAST(len(tk) AS BIGINT) AS nt FROM dfam)
        SELECT CAST(1 AS INT) AS stage_idx, 'quality_gate' AS stage,
               CAST(coalesce(sum(m), 0) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(m * nt), 0) AS BIGINT) AS n_tokens
        FROM k1 JOIN tok USING (gid)
        UNION ALL SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT), CAST(sum(nt) AS BIGINT)
        FROM k2 JOIN tok ON k2.doc_id = tok.gid
        UNION ALL SELECT 3, 'fuzzy_dedup', CAST(count(*) AS BIGINT), CAST(sum(nt) AS BIGINT)
        FROM k3 JOIN tok ON k3.doc_id = tok.gid
        UNION ALL SELECT 4, 'decontaminate', CAST(count(*) AS BIGINT), CAST(sum(nt) AS BIGINT)
        FROM k4 JOIN tok ON k4.doc_id = tok.gid
        UNION ALL SELECT 5, 'mix_epoch_prefix', CAST(count(*) AS BIGINT), CAST(sum(nt) AS BIGINT)
        FROM k5 JOIN tok ON k5.doc_id = tok.gid""")),

    Q("q_web_pipeline",
      (s, dir) => {
        val docs = Q.tSpread(s, dir, "documents")
        val id = col("doc_id")
        val toks = TextFns.tokens(col("text"))
        val body = transform(
          sequence(lit(0), ((size(toks) - lit(1)) / 8).cast("int")),
          i => concat(
            array_join(
              slice(toks, i * 8 + 1, when(i % 5 === 4, lit(3)).otherwise(lit(8))), " "),
            element_at(array(lit("."), lit("!"), lit("?"), lit("")),
              ((id + i) % 4 + 1).cast("int"))))
        def maybe(cond: org.apache.spark.sql.Column, line: String) =
          when(cond, array(lit(line))).otherwise(array().cast("array<string>"))
        val lines = concat(body,
          maybe(id % 6 === 0, "please enable javascript to continue browsing."),
          maybe(id % 17 === 0, "lorem ipsum dolor sit amet consectetur."),
          maybe(id % 13 === 0, "function() { return window.token; }"),
          maybe(id % 19 === 0, "this badword line would otherwise survive."),
          array(concat(lit("shared footer for "), col("lang"), lit(" readers everywhere."))))
        val html = concat(
          lit("<html><head><script>var t = 'x';</script></head><body>" +
            "<nav><a href=\"/\">home</a> <a href=\"/a\">about</a> " +
            "<a href=\"/c\">contact</a></nav>"),
          array_join(transform(lines, l => concat(lit("<p>"), l, lit("</p>"))), ""),
          lit("</body></html>"))
        val pages = docs.select(id, html.as("html"), urlExpr(id).as("url"))

        // the two hottest intermediates are STAGED (cached for the line,
        // released when it ends): the five stage-summary branches are a
        // union, and map-side work is not deduplicated across union
        // branches the way exchange output is — without the caches the
        // html fixture build + htmlExtract regex chain ran once per branch
        // that reads it (5x) and the C4 pass 4x (guide §1.2 "don't compute
        // things you throw away"). Same cache-then-release discipline as
        // q_training_pipeline's s2; a real pipeline materializes stage
        // outputs between stages for the same reason.
        val ext = Materialize.cache(Curation.htmlExtract(pages, "doc_id", "html")
          .select(col("doc_id"), col("clean_text").as("t1")))
        val c4 = Curation.c4Filter(ext, "doc_id", "t1", blocklist = Seq("badword"))
        val c4kept = Materialize.cache(c4.filter(col("keep"))
          .select(col("doc_id"), col("clean_text").as("t2")))
        val winners = Curation.urlDedup(
            c4kept.join(pages.select(id, col("url")), "doc_id"), "doc_id", "url")
          .select(col("keep_doc_id").as("doc_id"))
        val s3 = c4kept.join(winners, "doc_id")
        val s4 = Curation.paragraphDedup(s3, "doc_id", "t2")
          .select(col("doc_id"), col("clean_text").as("t3"))
        val s5 = Curation.exactSubstrStrip(s4, "doc_id", "t3", minTokens = 5, minCount = 2)
          .select(col("doc_id"), col("clean_text").as("t4"))

        def stage(df: org.apache.spark.sql.DataFrame, textCol: String, idx: Int, name: String) =
          df.select(size(TextFns.tokens(col(textCol))).cast("long").as("__n"))
            .agg(
              sum(when(col("__n") > 0, 1L).otherwise(0L)).as("__d"),
              sum(col("__n")).as("__t"))
            .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
              coalesce(col("__d"), lit(0L)).as("n_docs"),
              coalesce(col("__t"), lit(0L)).as("n_tokens"))

        stage(ext, "t1", 1, "html_extract")
          .unionByName(stage(c4kept, "t2", 2, "c4_filter"))
          .unionByName(stage(s3, "t2", 3, "url_dedup"))
          .unionByName(stage(s4, "t3", 4, "paragraph_dedup"))
          .unionByName(stage(s5, "t4", 5, "exact_substr_strip"))
      },
      Some(UrlCanonSql + """
        , tkl AS (
          SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
          FROM documents),
        base AS (
          SELECT doc_id, lang,
                 [array_to_string(tk[i*8+1 : i*8 + CASE WHEN i % 5 = 4 THEN 3 ELSE 8 END], ' ')
                    || ['.','!','?',''][CAST((doc_id + i) % 4 AS INT) + 1]
                  FOR i IN range(0, greatest(len(tk) - 1, 0) // 8 + 1)] AS ls
          FROM tkl),
        lns AS (
          SELECT doc_id,
                 ls
                 || CASE WHEN doc_id % 6 = 0 THEN ['please enable javascript to continue browsing.'] ELSE CAST([] AS VARCHAR[]) END
                 || CASE WHEN doc_id % 17 = 0 THEN ['lorem ipsum dolor sit amet consectetur.'] ELSE CAST([] AS VARCHAR[]) END
                 || CASE WHEN doc_id % 13 = 0 THEN ['function() { return window.token; }'] ELSE CAST([] AS VARCHAR[]) END
                 || CASE WHEN doc_id % 19 = 0 THEN ['this badword line would otherwise survive.'] ELSE CAST([] AS VARCHAR[]) END
                 || ['shared footer for ' || lang || ' readers everywhere.'] AS ls
          FROM base),
        -- stage 1: htmlExtract — the nav block dies by link density, the
        -- script head is stripped, and each <p> line becomes a block kept
        -- iff it carries >= 3 words (fixture paragraphs carry no links)
        st1d AS (
          SELECT doc_id,
                 list_filter(ls, l -> len(list_filter(string_split_regex(l, '\s+'), t -> t <> '')) >= 3) AS l1
          FROM lns),
        -- stage 2: C4 line rules + document verdict on the stage-1 text
        st2l AS (
          SELECT doc_id,
                 list_filter(l1, l -> right(l, 1) IN ('.', '!', '?', '"')
                     AND len(list_filter(string_split_regex(l, '\s+'), t -> t <> '')) >= 5
                     AND NOT contains(lower(l), 'javascript')) AS l2,
                 array_to_string(l1, chr(10)) AS t1
          FROM st1d),
        st2d AS (
          SELECT doc_id, l2 FROM st2l
          WHERE len(l2) >= 3 AND NOT contains(lower(t1), 'lorem ipsum')
            AND NOT contains(t1, '{') AND NOT contains(lower(t1), 'badword')),
        -- stage 3: URL dedup among C4 survivors (earliest doc per canon URL)
        w AS (
          SELECT min(k.doc_id) AS doc_id
          FROM st2d k JOIN canon c ON c.doc_id = k.doc_id
          GROUP BY c.canon_url),
        st3d AS (SELECT k.doc_id, k.l2 FROM st2d k JOIN w ON w.doc_id = k.doc_id),
        -- stage 4: CCNet paragraph dedup (global first occurrence)
        paras AS (
          SELECT doc_id, i - 1 AS pi, l2[i] AS para
          FROM st3d, UNNEST(range(1, len(l2) + 1)) u(i)),
        pk AS (
          SELECT doc_id, pi, para,
                 row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pi) AS rn
          FROM paras),
        -- stage 5: ExactSubstr strip (5-grams occurring >= 2 times)
        tk3 AS (
          SELECT doc_id,
                 flatten(list(list_filter(string_split_regex(para, '\s+'), t -> t <> '') ORDER BY pi)) AS tk
          FROM pk WHERE rn = 1 GROUP BY doc_id),
        g3 AS (
          SELECT doc_id, i - 1 AS pos,
                 substr(md5(array_to_string(tk[i:i+4], ' ')), 1, 16) AS gk
          FROM tk3, UNNEST(range(1, len(tk) - 3)) u(i)
          WHERE len(tk) >= 5),
        dup3 AS (SELECT gk FROM g3 GROUP BY gk HAVING count(*) >= 2),
        cov3 AS (SELECT DISTINCT doc_id, pos + d AS tpos
                 FROM g3, UNNEST(range(0, 5)) v(d)
                 WHERE gk IN (SELECT gk FROM dup3)),
        k5 AS (
          SELECT t.doc_id,
                 CAST(len(t.tk) - coalesce(c.nc, 0) AS BIGINT) AS n_kept
          FROM tk3 t LEFT JOIN (SELECT doc_id, count(*) AS nc FROM cov3 GROUP BY 1) c
            ON c.doc_id = t.doc_id)
        SELECT CAST(1 AS INT) AS stage_idx, 'html_extract' AS stage,
               CAST(coalesce(sum(CASE WHEN len(l1) > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(len(list_filter(string_split_regex(array_to_string(l1, ' '), '\s+'), t -> t <> ''))), 0) AS BIGINT) AS n_tokens
        FROM st1d
        UNION ALL
        SELECT CAST(2 AS INT), 'c4_filter',
               CAST(coalesce(sum(CASE WHEN len(l2) > 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
               CAST(coalesce(sum(len(list_filter(string_split_regex(array_to_string(l2, ' '), '\s+'), t -> t <> ''))), 0) AS BIGINT)
        FROM st2d
        UNION ALL
        SELECT CAST(3 AS INT), 'url_dedup',
               CAST(coalesce(sum(CASE WHEN len(l2) > 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
               CAST(coalesce(sum(len(list_filter(string_split_regex(array_to_string(l2, ' '), '\s+'), t -> t <> ''))), 0) AS BIGINT)
        FROM st3d
        UNION ALL
        SELECT CAST(4 AS INT), 'paragraph_dedup',
               CAST(coalesce(sum(CASE WHEN len(tk) > 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
               CAST(coalesce(sum(len(tk)), 0) AS BIGINT)
        FROM tk3
        UNION ALL
        SELECT CAST(5 AS INT), 'exact_substr_strip',
               CAST(coalesce(sum(CASE WHEN n_kept > 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
               CAST(coalesce(sum(n_kept), 0) AS BIGINT)
        FROM k5""")),

    // DSIR-style importance selection (Xie et al. 2302.03169): hashed
    // bigram models of target (lang='en') vs raw, arithmetic-mean smoothed
    // likelihood-ratio score (the log-free, hash-verifiable form — see
    // Curation.dsirSelect), deterministic top-100. Ordered-sum fold makes
    // the double replay bit-exact.
    Q("q_dsir_select",
      (s, dir) => {
        val docs = Q.tSpread(s, dir, "documents")
        Curation.dsirSelect(
          docs, docs.filter(col("lang") === "en"), "doc_id", "text",
          dims = 1024, k = 100)
      },
      Some("""
        WITH tkl AS (
          SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
          FROM documents),
        bk AS (
          SELECT doc_id, lang,
                 CAST(list_reduce(list_transform(range(1, 9),
                     k -> (strpos('0123456789abcdef', substr(md5(array_to_string(tk[CAST(u.i AS INT):CAST(u.i AS INT)+1], ' ')), k, 1)) - 1) * 16^(8-k)),
                   (a, x) -> a + x) AS BIGINT) % 1024 AS bucket
          FROM tkl, UNNEST(range(1, len(tk))) u(i)
          WHERE len(tk) >= 2),
        tf AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf FROM bk GROUP BY 1, 2),
        ct AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM bk WHERE lang = 'en' GROUP BY 1),
        cr AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS cr FROM tf GROUP BY 1),
        tt AS (SELECT CAST(coalesce(sum(ct), 0) + 1024 AS BIGINT) AS ttb FROM ct),
        tr AS (SELECT CAST(coalesce(sum(cr), 0) + 1024 AS BIGINT) AS trb FROM cr),
        terms AS (
          SELECT tf.doc_id, tf.tf,
                 CAST(tf.tf * (coalesce(ct.ct, 0) + 1) * tr.trb AS DOUBLE) /
                 CAST((cr.cr + 1) * tt.ttb AS DOUBLE) AS term
          FROM tf LEFT JOIN ct USING (bucket) JOIN cr USING (bucket)
          CROSS JOIN tt CROSS JOIN tr),
        sc AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_feats,
                 list_reduce(list_sort(list(term)), (a, x) -> a + x) AS ssum
          FROM terms GROUP BY 1)
        SELECT doc_id, n_feats, ssum / CAST(n_feats AS DOUBLE) AS dsir_score
        FROM sc ORDER BY dsir_score DESC, doc_id LIMIT 100""")),

    // Product-quantization encoding: per-subspace k-means codebooks +
    // map-only code assignment (see Similarity.pqTrain/pqAssign). Like
    // q_ivf_trained, the trained means are order-dependent doubles → no
    // SQL oracle; SimilarityPqSpec carries the determinism/recall
    // contracts. Scalar code columns (not the array) so the driver's
    // rows-only checker can sort.
    Q("q_pq_codes",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
          dims = 64, m = 4, k = 16, iters = 2)
        Similarity.pqAssign(emb, cb, "vec_id", "embedding", m = 4, sub = 16)
          .select(col("vec_id"),
            element_at(col("code"), 1).as("c1"),
            element_at(col("code"), 2).as("c2"),
            element_at(col("code"), 3).as("c3"),
            element_at(col("code"), 4).as("c4"))
      },
      None),

    // IVF-PQ search (FAISS IndexIVFPQ composition): nprobe=2 coarse
    // clusters over FIXED coarse centroids (first 8 embeddings — the
    // q_ivf_assign convention), a FIXED 16-entry-per-subspace codebook
    // sliced from embeddings 8..23, ADC top-10 for query vector 0. The
    // artifacts are deterministic, but the ADC distance is a 4-term
    // double sum in engine order → rows-only check (like q_pq_codes);
    // SimilarityPqSpec pins the composition identity (ivfPqTopK ==
    // pqTopK restricted to probed clusters) and the PQ recall contract.
    Q("q_ivfpq_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val m = 4; val sub = 16
        val centroids = e.filter(col("vec_id") < 8)
          .withColumnRenamed("vec_id", "centroid_id")
        val assigned = Similarity.ivfAssign(
          e, centroids, "vec_id", "embedding", "centroid_id")
        val cbSrc = e.filter(col("vec_id") >= 8 && col("vec_id") < 24)
        val codebook = (0 until m).map(sp => cbSrc.select(
          lit(sp).as("subspace"),
          (col("vec_id") - 7).cast("long").as("centroid_id"),
          slice(col("embedding"), sp * sub + 1, sub).as("embedding")))
          .reduce(_ unionByName _)
        val codes = Similarity.pqAssign(e, codebook, "vec_id", "embedding", m, sub)
        Similarity.ivfPqTopK(
          assigned, codes, codebook,
          query = e.filter(col("vec_id") === 0),
          centroids = centroids,
          idCol = "vec_id", vecCol = "embedding", centroidIdCol = "centroid_id",
          nprobe = 2, sub = sub, k = 10)
      },
      None),

    // End-to-end curation pipeline as ONE declarative plan: Gopher-style
    // quality gate → bag-of-words exact dedup (earliest doc wins) among the
    // survivors → per-language corpus yield (raw / post-quality / post-dedup
    // counts + kept token volume). Catalyst sees the whole chain, so column
    // pruning and the shared documents scan are optimized globally — the
    // composition costs one extra window, not a rerun of each stage.
    Q("q_curation_pipeline",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val toks = TextFns.tokens(col("text"))
        val sig = Curation.gopherSignals(docs, "doc_id", "text")
        val enriched = docs
          .join(sig.select(col("doc_id"), col("keep")), "doc_id")
          .withColumn("n_tokens", size(toks).cast("long"))
          .withColumn("bag_key",
            md5(array_join(array_sort(array_distinct(toks)), " ")))
        val keptIds = enriched.filter(col("keep"))
          .withColumn("__rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("bag_key")).orderBy(col("doc_id"))))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), lit(true).as("__kept"))
        enriched.join(keptIds, Seq("doc_id"), "left")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_raw"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
            sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("__kept"), col("n_tokens")).otherwise(0L)).as("tokens_kept"))
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM documents),
        b AS (
          SELECT doc_id, len(tk) AS n_words,
                 CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END AS n_bigrams,
                 CASE WHEN len(tk) >= 2
                      THEN len(list_distinct([array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))]))
                      ELSE 0 END AS n_bigrams_distinct
          FROM base),
        tc AS (
          SELECT doc_id, tk2 AS tok, count(*) AS cnt
          FROM (SELECT doc_id, unnest(tk) AS tk2 FROM base)
          GROUP BY 1, 2),
        pd AS (
          SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_cnt,
                 CAST(sum(cnt * length(tok)) AS BIGINT) AS char_sum
          FROM tc GROUP BY 1),
        sig AS (
          SELECT b.doc_id,
                 coalesce(
                   b.n_words >= 20 AND b.n_words <= 100000
                   AND (CAST(pd.char_sum AS DOUBLE) / CAST(b.n_words AS DOUBLE)) >= 2.0
                   AND (CAST(pd.char_sum AS DOUBLE) / CAST(b.n_words AS DOUBLE)) <= 12.0
                   AND (CAST(pd.top_cnt AS DOUBLE) / CAST(b.n_words AS DOUBLE)) <= 0.2
                   AND (CASE WHEN b.n_bigrams > 0
                         THEN 1.0 - (CAST(b.n_bigrams_distinct AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE))
                        END) <= 0.3,
                   false) AS keep
          FROM b LEFT JOIN pd ON pd.doc_id = b.doc_id),
        enr AS (
          SELECT base.doc_id, base.lang, CAST(len(base.tk) AS BIGINT) AS n_tokens,
                 md5(array_to_string(list_sort(list_distinct(base.tk)), ' ')) AS bag_key,
                 sig.keep
          FROM base JOIN sig USING (doc_id)),
        k AS (
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY bag_key ORDER BY doc_id) AS rn
            FROM enr WHERE keep)
          WHERE rn = 1)
        SELECT enr.lang,
               count(*) AS n_raw,
               CAST(sum(CASE WHEN enr.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
               CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN enr.n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
        FROM enr LEFT JOIN k USING (doc_id)
        GROUP BY enr.lang""")),

    // Exact Jaccard set-similarity self-join via AllPairs/PPJoin prefix
    // filtering — the exact complement to the probabilistic MinHash/SimHash
    // paths. Candidates come from an inverted index over each set's rarest
    // tokens only; integer cross-multiplication keeps FP out of the
    // predicate. 1-in-5 doc slice: the synthetic corpus is word salad from
    // a ~40-token vocabulary, so at full density the RESULT itself is
    // quadratic-sized — the slice bounds output, not algorithm cost.
    // Oracle replays at distinct-token-set family grain (lossless: same
    // set => same intersections; same-family pairs are inter=uni=|ts|,
    // which passes any theta <= 100 including the empty set's 0>=0).
    Q("q_setsim_pairs",
      (s, dir) => SetSimJoin.jaccardJoin(
        Q.tSpread(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", thetaPct = 90),
      Some("""
        WITH d AS (
          SELECT doc_id,
                 list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS ts
          FROM documents WHERE doc_id % 5 = 0),
        fam AS (
          SELECT ts, min(doc_id) AS gid, list(doc_id) AS members
          FROM d GROUP BY ts),
        memb AS (SELECT gid, unnest(members) AS id FROM fam),
        same AS (
          SELECT x.id AS id_a, y.id AS id_b,
                 CAST(len(f.ts) AS INT) AS inter, CAST(len(f.ts) AS INT) AS uni
          FROM fam f
          JOIN memb x ON x.gid = f.gid
          JOIN memb y ON y.gid = f.gid AND x.id < y.id),
        fp AS (
          SELECT a.gid AS ga, b.gid AS gb, len(list_intersect(a.ts, b.ts)) AS inter,
                 len(a.ts) AS na, len(b.ts) AS nb
          FROM fam a JOIN fam b ON a.gid < b.gid),
        fk AS (
          SELECT ga, gb, inter, na + nb - inter AS uni FROM fp
          WHERE inter * 100 >= 90 * (na + nb - inter)),
        crossed AS (
          SELECT least(x.id, y.id) AS id_a, greatest(x.id, y.id) AS id_b,
                 CAST(fk.inter AS INT) AS inter, CAST(fk.uni AS INT) AS uni
          FROM fk JOIN memb x ON x.gid = fk.ga JOIN memb y ON y.gid = fk.gb)
        SELECT * FROM same UNION ALL SELECT * FROM crossed"""),
      gate = Some(Gate(10, "pair OUTPUT is C(factor,2)-quadratic per " +
        "copy-family clique (96.7M rows measured at factor 10; no candidate " +
        "filter can reduce output cardinality); the linear dedup-GROUPS " +
        "contract (minhash->CC, q_dedup_groups) carries scale — standing " +
        "adjudication since r7"))),

    // Winnowing document fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03,
    // the MOSS scheme): positional 3-gram md5-prefix hashes, window-of-4
    // minima, distinct per doc. Selection is entirely per-row (codegen
    // ShingleList + O(m·w) window-min) — zero shuffles before the explode.
    Q("q_winnow_fp",
      (s, dir) => Curation.winnowFingerprints(
        t(s, dir, "documents"), "doc_id", "text", k = 3, w = 4),
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM documents),
        h AS (
          SELECT doc_id, [substr(md5(array_to_string(tk[i:i+2], ' ')), 1, 16) FOR i IN range(1, len(tk) - 1)] AS hs
          FROM toks WHERE len(tk) >= 3),
        sel AS (
          SELECT doc_id, list_distinct([list_min(hs[j:j+3]) FOR j IN range(1, greatest(len(hs) - 3, 1) + 1)]) AS fps
          FROM h)
        SELECT doc_id, unnest(fps) AS fingerprint FROM sel""")),

    // Bigram-LM fluency score: corpus-conditional bigram probabilities,
    // mean over each doc's bigram instances — log-free (rational IEEE
    // arithmetic, like tfidf's idf) with a sorted-bigram sequential fold so
    // the double sum is order-deterministic and hash-verifiable.
    // Family-grain replay (the r9 oracle-scale lesson): identical texts
    // share their bigram multiset, so the per-doc fold computes once per
    // distinct text and members expand at the end; the corpus model's
    // instance counts are sum(m) over family bigram rows (each family
    // contributes its in-text occurrences x member count m) — integer-exact,
    // and every double op is the identical expression the doc-grain form
    // ran. The doc-grain replay exploded ~100M bigram instance rows twice
    // (bg feeds docbg AND model) and blew DuckDB's memory limit at factor
    // 100; this form's heavy CTEs are factor-invariant. Diffed bit-exact
    // against the doc-grain oracle at sf0.01 and factor 20 before gating.
    Q("q_lm_score",
      (s, dir) => Curation.lmScore(t(s, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH fam AS MATERIALIZED (
          -- DISTINCT members: if a doc_id ever appeared k times with the
          -- same text, list(doc_id) would hold it k times and the final
          -- documents-side join would fan out k*k rows where the engine's
          -- doc-grain groupBy emits k — distinct members keep the member
          -- expansion unique per doc_id under key duplication (no-op on
          -- the fixtures, where doc_id is unique)
          SELECT min(doc_id) AS gid, list(DISTINCT doc_id) AS members, count(*) AS m, text
          FROM documents GROUP BY text),
        toks AS (SELECT gid, m, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM fam),
        bg AS MATERIALIZED (
          SELECT gid, m, unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS bg
          FROM toks WHERE len(tk) >= 2),
        docbg AS (SELECT gid, bg, count(*) AS dcnt FROM bg GROUP BY 1, 2),
        model AS MATERIALIZED (SELECT bg, CAST(sum(m) AS BIGINT) AS cbg FROM bg GROUP BY 1),
        pre AS (SELECT split_part(bg, ' ', 1) AS prefix, CAST(sum(cbg) AS BIGINT) AS cpre FROM model GROUP BY 1),
        scored AS (
          SELECT d.gid, d.bg, d.dcnt,
                 (CAST(d.dcnt AS DOUBLE) * (CAST(m.cbg AS DOUBLE) / CAST(p.cpre AS DOUBLE))) AS contrib
          FROM docbg d JOIN model m USING (bg) JOIN pre p ON split_part(d.bg, ' ', 1) = p.prefix),
        agg AS (
          SELECT gid,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(contrib ORDER BY bg)), (a, b) -> a + b) AS s,
                 CAST(sum(dcnt) AS BIGINT) AS nb
          FROM scored GROUP BY gid),
        memb AS (SELECT gid, unnest(members) AS doc_id FROM fam)
        SELECT d.doc_id, coalesce(a.nb, 0) AS n_bigrams,
               (a.s / CAST(a.nb AS DOUBLE)) AS avg_cond_prob
        FROM documents d
        LEFT JOIN (SELECT memb.doc_id, agg.s, agg.nb
                   FROM memb JOIN agg USING (gid)) a USING (doc_id)""")),

    // Unicode NFC canonical composition (codegen NfcNormalize expression —
    // Spark has no normalizer builtin; normalize-before-fingerprint is
    // mandatory on web corpora). A decomposed suffix ("e" + U+0301,
    // "A" + U+030A) is appended to every row so the oracle proves REAL
    // composition work — UAX #15 makes Java Normalizer and DuckDB's ICU
    // nfc_normalize byte-identical, so even md5 of the result hash-matches.
    Q("q_unicode_norm",
      (s, dir) => {
        val mixed = concat(col("text"), lit(" cafe\u0301 A\u030A"))
        t(s, dir, "documents").select(
          col("doc_id"),
          length(mixed).as("len_raw"),
          length(TextFns.nfc(mixed)).as("len_nfc"),
          md5(TextFns.nfc(mixed)).as("md5_nfc"))
      },
      Some("""
        SELECT doc_id,
               length(text || ' cafe' || chr(769) || ' A' || chr(778)) AS len_raw,
               length(nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778))) AS len_nfc,
               md5(nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778))) AS md5_nfc
        FROM documents""")),

    // Winnowing match detection (MOSS second half): inverted index over
    // selected fingerprints, over-common fingerprints suppressed (df > 4 —
    // boilerplate is not match evidence AND the per-fingerprint self-join
    // stays O(maxDocFreq²)), pairs scored by shared-fingerprint count.
    Q("q_winnow_matches",
      (s, dir) => Curation.winnowMatches(
        t(s, dir, "documents"), "doc_id", "text",
        k = 3, w = 4, minShared = 3, maxDocFreq = 4),
      Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM documents),
        h AS (
          SELECT doc_id, [substr(md5(array_to_string(tk[i:i+2], ' ')), 1, 16) FOR i IN range(1, len(tk) - 1)] AS hs
          FROM toks WHERE len(tk) >= 3),
        sel AS (
          SELECT doc_id, list_distinct([list_min(hs[j:j+3]) FOR j IN range(1, greatest(len(hs) - 3, 1) + 1)]) AS fps
          FROM h),
        fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM sel),
        rare AS (SELECT fingerprint FROM fp GROUP BY 1 HAVING count(*) <= 4),
        idx AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN rare USING (fingerprint))
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
        FROM idx a JOIN idx b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 3""")),

    // REAL nearest-neighbor image resize (netpbm path): target pixel
    // (x,y) reads source pixel (x*sw/tw, y*sh/th); per-row work is
    // O(tw*th) regardless of source size. Closed-form oracle over the
    // fixture's pixel formula through the same integer-floor sampling map.
    Q("q_image_resize",
      (s, dir) => Multimodal.resizePnmFeatures(
        Multimodal.pnmFixture(t(s, dir, "documents"), "doc_id"), targetW = 3, targetH = 2),
      Some("""
        WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
        px AS (SELECT doc_id, w, h, unnest(range(0, 6)) AS q FROM d),
        s AS (SELECT doc_id, w, h, ((q % 3) * w) // 3 AS sx, ((q // 3) * h) // 2 AS sy FROM px)
        SELECT doc_id, CAST(w AS INT) AS src_width, CAST(h AS INT) AS src_height,
               3 AS width, 2 AS height,
               CAST(sum((doc_id * 7 + 3 * (sy * w + sx) + 0) % 256) AS DOUBLE) / 6 AS mean_r,
               CAST(sum((doc_id * 7 + 3 * (sy * w + sx) + 1) % 256) AS DOUBLE) / 6 AS mean_g,
               CAST(sum((doc_id * 7 + 3 * (sy * w + sx) + 2) % 256) AS DOUBLE) / 6 AS mean_b
        FROM s GROUP BY doc_id, w, h""")),

    // Real 24-bit BMP decode through the JDK's ImageIO read (little-endian
    // headers, 4-byte row padding, BGR order, bottom-up rows): per-channel
    // means + the (0,0) corner pixel — the corner is position-sensitive, so
    // stride/row-order bugs cannot hide behind order-independent means.
    // Closed-form oracle over the logical-position pixel formula.
    Q("q_bmp_decode",
      (s, dir) => Multimodal.decodeBmpFeatures(
        Multimodal.bmpFixture(t(s, dir, "documents"), "doc_id")),
      Some("""
        WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
        px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM d)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(sum((doc_id * 11 + 5 * p + 0) % 256) AS DOUBLE) / CAST(w * h AS BIGINT) AS mean_b,
               CAST(sum((doc_id * 11 + 5 * p + 1) % 256) AS DOUBLE) / CAST(w * h AS BIGINT) AS mean_g,
               CAST(sum((doc_id * 11 + 5 * p + 2) % 256) AS DOUBLE) / CAST(w * h AS BIGINT) AS mean_r,
               CAST((doc_id * 11 + 0) % 256 AS INT) AS b00,
               CAST((doc_id * 11 + 1) % 256 AS INT) AS g00,
               CAST((doc_id * 11 + 2) % 256 AS INT) AS r00
        FROM px GROUP BY doc_id, w, h""")),

    // REAL PNG decode through the JDK's bundled ImageIO codec (no external
    // library): each fixture is a spec-complete RGB PNG whose scanlines
    // cycle through ALL FIVE filter types before a real Deflater pass split
    // across two IDAT chunks, and the decoded per-channel means
    // hash-verify against the closed-form raster formula. A
    // filter/stride/inflate bug cannot produce these means.
    Q("q_png_decode",
      (s, dir) => Multimodal.decodeImageFeatures(
        Multimodal.pngFixture(t(s, dir, "documents"), "doc_id"), Multimodal.decodeImageIO),
      Some("""
        WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
        px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM d)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               3 AS channels,
               CAST(sum((doc_id * 13 + 5 * (3 * p + 0)) % 256) AS DOUBLE) / CAST(w * h AS BIGINT) AS mean_r,
               CAST(sum((doc_id * 13 + 5 * (3 * p + 1)) % 256) AS DOUBLE) / CAST(w * h AS BIGINT) AS mean_g,
               CAST(sum((doc_id * 13 + 5 * (3 * p + 2)) % 256) AS DOUBLE) / CAST(w * h AS BIGINT) AS mean_b
        FROM px GROUP BY doc_id, w, h""")),

    // JPEG decode via the JDK's bundled javax.imageio codec (no external
    // library): flat-gray baseline fixtures — the subset a lossy codec
    // reproduces EXACTLY (DC-only blocks; all 256 grays + partial edge
    // blocks spec-verified) — so even JPEG gets a hash-grade oracle.
    Q("q_jpeg_decode",
      (s, dir) => Multimodal.decodeImageFeatures(
        Multimodal.jpegFixture(t(s, dir, "documents"), "doc_id"), Multimodal.decodeImageIO),
      Some("""
        SELECT doc_id,
               CAST(8 + doc_id % 9 AS INT) AS width,
               CAST(6 + doc_id % 7 AS INT) AS height,
               3 AS channels,
               CAST(doc_id % 256 AS DOUBLE) AS mean_r,
               CAST(doc_id % 256 AS DOUBLE) AS mean_g,
               CAST(doc_id % 256 AS DOUBLE) AS mean_b
        FROM documents""")),

    // GIF decode through the same JDK codec path: GIF is LOSSLESS for
    // <=256-color rasters, so the fixture is a per-id two-gray PATTERN
    // (not flat) and still replays exactly — the complement of the JPEG
    // fixture's flat-only constraint.
    Q("q_gif_decode",
      (s, dir) => Multimodal.decodeImageFeatures(
        Multimodal.gifFixture(t(s, dir, "documents"), "doc_id"), Multimodal.decodeImageIO),
      Some("""
        WITH d AS (SELECT doc_id, 5 + doc_id % 6 AS w, 6 + doc_id % 5 AS h FROM documents),
        px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM d),
        m AS (
          SELECT doc_id, w, h,
                 CAST(sum(CASE WHEN (doc_id * 7 + 3 * p) % 2 = 0 THEN 40 ELSE 200 END) AS DOUBLE)
                   / CAST(w * h AS BIGINT) AS mean_gray
          FROM px GROUP BY doc_id, w, h)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               3 AS channels, mean_gray AS mean_r, mean_gray AS mean_g, mean_gray AS mean_b
        FROM m""")),

    // REAL video decode: Y4M (YUV4MPEG2) is the one video container
    // parseable with zero libraries — plain-text header, FRAME markers,
    // raw planar YUV. The fixture is a real multi-frame 4:2:0 stream; the
    // decoder walks frames, validates chroma-plane strides, and sums luma.
    // first/last frame means are position-sensitive, so a frame-walk bug
    // cannot hide behind the order-independent overall mean. Every mean is
    // one division of an exact integer sum (bit-replayable).
    Q("q_video_decode",
      (s, dir) => Multimodal.decodeY4mFeatures(
        Multimodal.y4mFixture(t(s, dir, "documents"), "doc_id")),
      Some("""
        WITH d AS (SELECT doc_id, 4 + 2 * (doc_id % 4) AS w, 2 + 2 * (doc_id % 3) AS h,
                          2 + doc_id % 4 AS nf FROM documents),
        fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f FROM d),
        fp AS (SELECT doc_id, w, h, nf, f, unnest(range(0, w * h)) AS p FROM fr),
        s AS (SELECT doc_id, w, h, nf, f,
                     CAST(sum((doc_id * 3 + 7 * f + 5 * p) % 256) AS BIGINT) AS fsum
              FROM fp GROUP BY 1, 2, 3, 4, 5)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(nf AS INT) AS n_frames,
               CAST(sum(fsum) AS DOUBLE) / CAST(w * h * nf AS BIGINT) AS mean_y,
               CAST(min(CASE WHEN f = 0 THEN fsum END) AS DOUBLE) / CAST(w * h AS BIGINT) AS first_mean_y,
               CAST(min(CASE WHEN f = nf - 1 THEN fsum END) AS DOUBLE) / CAST(w * h AS BIGINT) AS last_mean_y
        FROM s GROUP BY doc_id, w, h, nf""")),

    // REAL frame sampling: every 2nd decoded Y4M frame emits its mean
    // luma — the decode path of q_frame_sample's container-probe shape
    // (map-only flatMap generator, no shuffle; row multiplication at the
    // sampled-frame grain, which at 100 TB is the stage that must never
    // force a pre-shuffle).
    Q("q_video_frames",
      (s, dir) => Multimodal.frameSampleY4m(
        Multimodal.y4mFixture(t(s, dir, "documents"), "doc_id"), stride = 2),
      Some("""
        WITH d AS (SELECT doc_id, 4 + 2 * (doc_id % 4) AS w, 2 + 2 * (doc_id % 3) AS h,
                          2 + doc_id % 4 AS nf FROM documents),
        fr AS (SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS f FROM d),
        fp AS (SELECT doc_id, w, h, f, unnest(range(0, w * h)) AS p FROM fr)
        SELECT doc_id, CAST(f AS INT) AS frame_idx,
               CAST(sum((doc_id * 3 + 7 * f + 5 * p) % 256) AS DOUBLE) / CAST(w * h AS BIGINT) AS mean_y
        FROM fp GROUP BY doc_id, f, w, h""")),

    // Sequence packing (concat-and-chop batch prep): per-language shards,
    // 2048-token training windows; each doc gets its token-offset interval
    // and spanned bin range from ONE bounded cumulative-sum window per
    // shard + per-row integer arithmetic.
    Q("q_seq_pack",
      (s, dir) => Curation.packSequences(
        t(s, dir, "documents"), "doc_id", "text", shardCol = "lang", seqLen = 2048),
      Some("""
        WITH n AS (
          SELECT lang, doc_id,
                 CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT lang, doc_id, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS end_offset
          FROM n WHERE n_tokens > 0)
        SELECT lang, doc_id, n_tokens,
               CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
               CAST((end_offset - n_tokens) // 2048 AS BIGINT) AS start_bin,
               CAST((end_offset - 1) // 2048 AS BIGINT) AS end_bin
        FROM c""")),

    // Vocabulary build + corpus encoding: top-20 tokens by corpus
    // frequency become ids 1..20 (deterministic count-desc/token-asc
    // ranking over the token-GRAIN frame), the tail maps to OOV id 0,
    // and every document encodes as positional token ids via a broadcast
    // join — the tokenize-for-training step, corpus never shuffled on
    // position. vocabSize=20 < |vocab|=31 so the OOV path is exercised.
    Q("q_token_ids",
      (s, dir) => Curation.vocabEncode(
        t(s, dir, "documents"), "doc_id", "text", vocabSize = 20),
      Some("""
        WITH pos AS (
          SELECT doc_id, unnest([{'pos': i - 1, 'tok': tk[i]} FOR i IN range(1, len(tk) + 1)], recursive := true)
          FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM documents)),
        vocab AS (
          SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS token_id
          FROM pos GROUP BY tok QUALIFY token_id <= 20)
        SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos,
               CAST(coalesce(v.token_id, 0) AS INT) AS token_id
        FROM pos p LEFT JOIN vocab v USING (tok)""")),

    // Sparse sign random projection (Achlioptas 2003 / JL): 64-dim
    // embeddings -> 16 dims via a broadcast md5-parity sign matrix —
    // map-only, the width-reduction step before the ANN tier. Long-form
    // output; ascending-i folds keep every double bit-portable.
    Q("q_random_projection",
      (s, dir) => Similarity.randomProject(
        t(s, dir, "embeddings"), "vec_id", "embedding", inDims = 64, outDims = 16),
      Some("""
        WITH m AS (
          SELECT j, list_transform(range(0, 64), i ->
                   CASE WHEN (strpos('0123456789abcdef', substr(md5(j || '_' || i), 1, 1)) - 1) % 2 = 0
                        THEN 1.0 ELSE -1.0 END) AS mj
          FROM (SELECT unnest(range(0, 16)) AS j))
        SELECT e.vec_id, CAST(m.j AS INT) AS dim,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, 65), i -> (CAST(e.embedding[i] AS DOUBLE) * m.mj[i]))),
                 (a, b) -> a + b) AS value
        FROM embeddings e CROSS JOIN m""")),

    // Heavy hitters via the approx_top_k frequent-items sketch (Spark 4's
    // DataSketches-backed aggregate) — the single-pass mergeable bounded-
    // memory scale path for "most frequent items over 100 TB", where an
    // exact groupBy would be fine but a sketch merges across partitions /
    // days / streams. Oracle-able HERE because the sketch is provably
    // EXACT when maxItemsTracked >= |vocabulary| (31 tokens at every SF):
    // same sketch-with-exactness-contract pattern as ApproxSpec.
    Q("q_heavy_hitters",
      (s, dir) => t(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("token"))
        .agg(expr("approx_top_k(token, 50, 10000)").as("__tk"))
        .select(explode(col("__tk")).as("__e"))
        .select(col("__e.item").as("token"), col("__e.count").as("n")),
      Some("""
        SELECT tk AS token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tk
              FROM documents)
        GROUP BY 1""")),

    // End-to-end retrieval composition (the RAG indexing+query path):
    // chunk → feature-hash TF → cosine top-k against a query string, all
    // in ONE declarative plan. Cosine is computed on INTEGER tf counts
    // (exact order-independent sums) with one correctly-rounded sqrt +
    // division at the end — bit-portable without sequential folds. The
    // query-vector side is two 1-row broadcast frames; the chunk side is
    // one explode + one (chunk, bucket) shuffle with map-side combine,
    // then a bucket-grain broadcast join — nothing pairwise, no corpus-
    // wide window, embarrassingly parallel at 100 TB.
    Q("q_chunk_retrieval",
      (s, dir) => {
        val dims = 64L
        def bucket(c: org.apache.spark.sql.Column) =
          pmod(conv(substring(md5(c), 1, 8), 16, 10).cast("long"), lit(dims))
        val chunks = Curation.chunkTokens(
          t(s, dir, "documents"), "doc_id", "text", chunkSize = 64, stride = 48)
        val cb = chunks
          .select(col("doc_id"), col("chunk_idx"),
            explode(TextFns.tokens(col("chunk_text"))).as("__tk"))
          .groupBy(col("doc_id"), col("chunk_idx"), bucket(col("__tk")).as("bucket"))
          .agg(count(lit(1)).as("tf"))
        val qdf = s.range(1)
          .select(explode(TextFns.tokens(lit("spark hash join batch scan filter"))).as("__tk"))
          .groupBy(bucket(col("__tk")).as("bucket"))
          .agg(count(lit(1)).as("qtf"))
        val qnorm = qdf.agg(sum(col("qtf") * col("qtf")).as("q2"))
        cb.join(broadcast(qdf), Seq("bucket"), "left")
          .groupBy(col("doc_id"), col("chunk_idx"))
          .agg(
            sum(col("tf") * coalesce(col("qtf"), lit(0L))).as("dot"),
            sum(col("tf") * col("tf")).as("c2"))
          .filter(col("dot") > 0)
          .crossJoin(broadcast(qnorm))
          .select(col("doc_id"), col("chunk_idx"), col("dot"),
            (col("dot").cast("double") /
              (sqrt(col("c2").cast("double")) * sqrt(col("q2").cast("double")))).as("cosine"))
          .orderBy(col("cosine").desc, col("doc_id"), col("chunk_idx"))
          .limit(20)
      },
      Some("""
        WITH base AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk,
                 len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS n
          FROM documents),
        ch AS (
          SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                 tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64] AS ctoks
          FROM (SELECT doc_id, tk,
                       unnest(range(0, CASE WHEN n <= 64 THEN 0 ELSE (n - 64 + 47) // 48 END + 1)) AS chunk_idx
                FROM base WHERE n > 0)),
        cb AS (
          SELECT doc_id, chunk_idx,
                 CAST(list_reduce(list_transform(range(1, 9),
                     k -> (strpos('0123456789abcdef', substr(md5(tok), k, 1)) - 1) * 16^(8-k)),
                   (a, x) -> a + x) AS BIGINT) % 64 AS bucket,
                 count(*) AS tf
          FROM (SELECT doc_id, chunk_idx, unnest(ctoks) AS tok FROM ch)
          GROUP BY 1, 2, 3),
        qb AS (
          SELECT CAST(list_reduce(list_transform(range(1, 9),
                     k -> (strpos('0123456789abcdef', substr(md5(tok), k, 1)) - 1) * 16^(8-k)),
                   (a, x) -> a + x) AS BIGINT) % 64 AS bucket,
                 count(*) AS qtf
          FROM (SELECT unnest(['spark', 'hash', 'join', 'batch', 'scan', 'filter']) AS tok)
          GROUP BY 1),
        qn AS (SELECT CAST(sum(qtf * qtf) AS BIGINT) AS q2 FROM qb),
        sc AS (
          SELECT doc_id, chunk_idx,
                 CAST(sum(tf * coalesce(qtf, 0)) AS BIGINT) AS dot,
                 CAST(sum(tf * tf) AS BIGINT) AS c2
          FROM cb LEFT JOIN qb USING (bucket)
          GROUP BY 1, 2)
        SELECT doc_id, chunk_idx, dot,
               (CAST(dot AS DOUBLE) / (sqrt(CAST(c2 AS DOUBLE)) * sqrt(CAST(q2 AS DOUBLE)))) AS cosine
        FROM sc CROSS JOIN qn WHERE dot > 0
        ORDER BY cosine DESC, doc_id, chunk_idx LIMIT 20"""))
  )
}
