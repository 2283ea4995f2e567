package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.mine.{Cat2Ax, Hearst}
import graft.taxonomy.{Induction, PropertyFrequencies}
import graft.runtime.Checkpoints.pin

/** Driver-oracle queries for the operator families that were previously
  * covered only by unit tests (VERDICT r1 §next #3): the ZERO-PADDED median
  * through Cat2Ax (A3/§2.11), Hearst corpus counts (A5/N9), the hypernym
  * 2-of-3 vote (A6), the frequent-unknown-label filter (F9), per-class
  * property frequencies with subtree fallback (A15), and TF-IDF disjointness
  * induction (A11). Each drives the REAL operator implementation against
  * inputs derived deterministically from the driver testdata tables, with a
  * DuckDB-equivalent oracle.
  */
object MiningQueries {

  // — A9: valid NE tags per type with parent inheritance (ValidTags) —

  /** Fixture over lineitem: mentions = one row per line item (entity =
    * its order, tag = g(linenumber % 3) — TPC-H's 1..7 line numbers make
    * g1 ≈ 12/28 the only ≥0.35 tag with ~0.07 margins on both sides);
    * entity types = leaf t(orderkey % 6) + parent p(leaf / 2); the
    * taxonomy adds an ENTITY-FREE leaf t6 under p2 that must INHERIT p2's
    * valid tags, and a root that (having no parents) stays tag-free. */
  def validTags(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val mentions = li.select(
      concat(lit("o"), col("l_orderkey")).as("ent"),
      concat(lit("g"), col("l_linenumber") % 3).as("tag"))
    val entBase = li.select(col("l_orderkey").as("okey"),
                            (col("l_orderkey") % 6).as("lf")).distinct()
    // no distinct on the union: entBase is already distinct and the two
    // branches' tpe prefixes (t/p) are disjoint, so (ent, tpe) is unique
    // by construction — a distinct here re-shuffles 2×|entities| rows
    // for nothing
    // consumed twice (the stats join + the inheritance universe) — pin
    // so the corpus-sized distinct evaluates once
    val entTypes = pin(entBase.select(
        concat(lit("o"), col("okey")).as("ent"),
        concat(lit("t"), col("lf")).as("tpe"))
      .unionByName(entBase.select(
        concat(lit("o"), col("okey")).as("ent"),
        concat(lit("p"), (col("lf") / 2).cast("int")).as("tpe"))))
    val edges = Seq("t0" -> "p0", "t1" -> "p0", "t2" -> "p1", "t3" -> "p1",
                    "t4" -> "p2", "t5" -> "p2", "t6" -> "p2",
                    "p0" -> "root", "p1" -> "root", "p2" -> "root")
      .toDF("child", "parent")
    graft.taxonomy.ValidTags.validTags(mentions, entTypes, edges,
                                       threshold = 0.35)
  }

  val validTagsSql: String =
    """WITH m AS (SELECT 'o'||l_orderkey AS ent, 'g'||(l_linenumber%3) AS tag,
                         l_orderkey%6 AS lf FROM lineitem),
       et AS (SELECT DISTINCT ent, 't'||lf AS tpe FROM m
              UNION SELECT DISTINCT ent,
                    'p'||CAST(FLOOR(lf/2.0) AS INT) FROM m),
       j AS (SELECT et.tpe, m.tag FROM et JOIN m USING (ent)),
       tot AS (SELECT tpe, count(*) AS total FROM j GROUP BY 1),
       cnts AS (SELECT tpe, tag, count(*) AS cnt FROM j GROUP BY 1,2),
       direct AS (SELECT c.tpe, c.tag FROM cnts c JOIN tot USING (tpe)
                  WHERE cnt*1.0/total >= 0.35),
       edges(child,parent) AS (VALUES ('t0','p0'),('t1','p0'),('t2','p1'),
         ('t3','p1'),('t4','p2'),('t5','p2'),('t6','p2'),
         ('p0','root'),('p1','root'),('p2','root')),
       nodirect AS (SELECT child AS tpe FROM edges
                    WHERE child NOT IN (SELECT tpe FROM direct)
                    UNION SELECT parent FROM edges
                    WHERE parent NOT IN (SELECT tpe FROM direct)),
       inh1 AS (SELECT e.child AS tpe, d.tag FROM edges e
                JOIN direct d ON d.tpe=e.parent
                WHERE e.child IN (SELECT tpe FROM nodirect)),
       inh2 AS (SELECT e.child AS tpe, x.tag FROM edges e
                JOIN inh1 x ON x.tpe=e.parent
                WHERE e.child IN (SELECT tpe FROM nodirect))
       SELECT DISTINCT tpe, tag FROM
         (SELECT * FROM direct UNION ALL SELECT * FROM inh1
          UNION ALL SELECT * FROM inh2)"""

  // — A3: zero-padded median via Cat2Ax.setMedians —

  /** Category sets = regions (members: nations); member value frequencies =
    * per nation, the share of each market segment over its customers. A
    * nation with no customers in a segment contributes an implicit 0 to the
    * set median — the exact zero-padding semantics of ZeroPaddedMedian
    * (reference: `/root/reference/impl/category/cat2ax.py:123-131`). */
  def zeroPaddedMedian(s: SparkSession, d: String): DataFrame = {
    val catSets = Tables.nation(s, d).select(
      concat(lit("r"), col("n_regionkey")).as("set_id"),
      col("n_nationkey").as("cat_id"))
    val w = Window.partitionBy("cat_id")
    val memberFreqs = Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("cat_id"),
               col("c_mktsegment").as("value"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("freq", col("cnt") / sum("cnt").over(w))
      .select("cat_id", "value", "freq")
    Cat2Ax.setMedians(catSets, memberFreqs)
      .select(col("set_id"), col("value"),
              round(col("median_freq"), 6).as("median_freq"),
              col("support"), col("set_size"))
  }

  val zeroPaddedMedianSql: String =
    """WITH catsets AS (SELECT 'r'||n_regionkey AS set_id, n_nationkey AS cat_id
                        FROM nation),
       mf AS (SELECT c_nationkey AS cat_id, c_mktsegment AS value,
                CAST(count(*) AS DOUBLE)
                  / CAST(sum(count(*)) OVER (PARTITION BY c_nationkey) AS DOUBLE) AS freq
              FROM customer GROUP BY 1, 2),
       sizes AS (SELECT set_id, count(DISTINCT cat_id) AS set_size
                 FROM catsets GROUP BY 1),
       observed AS (SELECT cs.set_id, cs.cat_id, mf.value, mf.freq
                    FROM catsets cs JOIN mf USING (cat_id)),
       sv AS (SELECT set_id, value, count(*) AS support
              FROM observed GROUP BY 1, 2),
       padded AS (
         SELECT sv.set_id, sv.value, COALESCE(o.freq, 0.0) AS freq
         FROM sv JOIN catsets cs ON cs.set_id = sv.set_id
         LEFT JOIN observed o ON o.set_id = sv.set_id
                             AND o.cat_id = cs.cat_id AND o.value = sv.value)
       SELECT p.set_id, p.value, round(median(p.freq), 6) AS median_freq,
              max(sv.support) AS support, max(sizes.set_size) AS set_size
       FROM padded p
       JOIN sv ON sv.set_id = p.set_id AND sv.value = p.value
       JOIN sizes ON sizes.set_id = p.set_id
       GROUP BY 1, 2"""

  // — A5: Hearst corpus hypernym counts —

  /** Deterministic Hearst-bearing corpus synthesized from `part` rows (the
    * driver documents table is word-soup with no copular patterns), then the
    * REAL page-local matcher (Hearst.matchText flatMap) + one count shuffle. */
  def hearstCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val corpus = Tables.part(s, d).select(
      col("p_partkey").cast("string"),
      concat(lit("The "), col("p_name"), lit(" is a "), lower(col("p_type")),
             lit(". Sizes such as size "), col("p_size").cast("string"),
             lit(" hold it, and "), lower(col("p_brand")),
             lit(" or other brands including "), lower(col("p_name")),
             lit(" sell it!")))
      .as[(String, String)]
    Hearst.corpusCounts(corpus)
  }

  val hearstCountsSql: String = {
    val np = "([a-z][a-z0-9]*(?: [a-z][a-z0-9]*){0,2}?)"
    val patterns: Seq[(String, Int, Int)] = Seq(
      (s"$np is (?:a|an) $np", 1, 2),
      (s"$np such as $np", 2, 1),
      (s"$np and other $np", 1, 2),
      (s"$np or other $np", 1, 2),
      (s"$np including $np", 2, 1),
      (s"$np especially $np", 2, 1),
      (s"$np particularly $np", 2, 1),
      (s"$np other than $np", 2, 1))
    val perPattern = patterns.map { case (p, si, oi) =>
      s"""SELECT string_split(pair[1], ' ')[-1] AS sub,
            string_split(pair[2], ' ')[-1] AS obj
          FROM sents, unnest(list_zip(regexp_extract_all(s, '$p', $si),
                                      regexp_extract_all(s, '$p', $oi))) AS t(pair)"""
    }.mkString(" UNION ALL ")
    s"""WITH corpus AS (SELECT
          'The ' || p_name || ' is a ' || lower(p_type) ||
          '. Sizes such as size ' || p_size || ' hold it, and ' ||
          lower(p_brand) || ' or other brands including ' || lower(p_name) ||
          ' sell it!' AS text
          FROM part),
        sents AS (
          SELECT trim(regexp_replace(regexp_replace(sent, '[^a-z0-9 ]', ' ', 'g'),
                                     '\\s+', ' ', 'g')) AS s
          FROM (SELECT unnest(string_split_regex(lower(text), '[.!?]')) AS sent
                FROM corpus)),
        pairs AS ($perPattern)
        SELECT sub, obj, count(*) AS cnt FROM pairs
        WHERE sub <> obj GROUP BY 1, 2"""
  }

  // — A6: hypernym 2-of-3 source vote —

  /** Three hypernym evidence sources over the events stream (full counts,
    * even-user counts, per-subject ratio), merged with per-source thresholds
    * and a 2-of-3 vote (reference `impl/util/hypernymy.py:55-98`). */
  def hypernymVote(s: SparkSession, d: String): DataFrame = {
    // sign-preserving % (not pmod) everywhere a DuckDB oracle uses `%`
    val base = Tables.events(s, d).select(
      col("event_type").as("sub"),
      concat(lit("b"), col("user_id") % 3).as("obj"))
    val wiki = base.groupBy("sub", "obj").agg(count(lit(1)).as("cnt"))
    val web = Tables.events(s, d)
      .filter(col("user_id") % 2 === 0)
      .select(col("event_type").as("sub"),
              concat(lit("b"), col("user_id") % 3).as("obj"))
      .groupBy("sub", "obj").agg(count(lit(1)).as("cnt"))
    val ratios = wiki
      .withColumn("ratio",
        col("cnt") / sum("cnt").over(Window.partitionBy("sub")))
      .select("sub", "obj", "ratio")
    Hearst.mergeSources(wiki, 50L, web, 30L, ratios, 0.34)
  }

  val hypernymVoteSql: String =
    """WITH wiki AS (SELECT event_type AS sub, 'b'||(user_id % 3) AS obj,
                     count(*) AS cnt FROM events GROUP BY 1, 2),
       web AS (SELECT event_type AS sub, 'b'||(user_id % 3) AS obj,
               count(*) AS cnt FROM events WHERE user_id % 2 = 0 GROUP BY 1, 2),
       ratios AS (SELECT sub, obj,
                  CAST(cnt AS DOUBLE)
                    / CAST(sum(cnt) OVER (PARTITION BY sub) AS DOUBLE) AS ratio
                  FROM wiki),
       votes AS (
         SELECT sub, obj, 1 AS vote FROM wiki WHERE cnt >= 50
         UNION ALL SELECT sub, obj, 1 FROM web WHERE cnt >= 30
         UNION ALL SELECT sub, obj, 1 FROM ratios WHERE ratio >= 0.34)
       SELECT sub, obj, CAST(sum(vote) AS BIGINT) AS votes
       FROM votes GROUP BY 1, 2 HAVING sum(vote) >= 2"""

  // — F9: frequent-unknown-label filter —

  /** Labels whose global frequency exceeds the threshold are boilerplate and
    * dropped via a broadcast anti-join (≙ Pipeline stage 3b; reference
    * `/root/reference/impl/wikipedia/__init__.py:59-67`). */
  def frequentLabelFilter(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand").as("label"))
    val frequent = parts.groupBy("label").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 80).select("label")
    parts.join(broadcast(frequent), Seq("label"), "left_anti")
  }

  val frequentLabelFilterSql: String =
    """SELECT p_brand AS label, p_partkey FROM part
       WHERE p_brand NOT IN (
         SELECT p_brand FROM part GROUP BY 1 HAVING count(*) > 80)"""

  // — A15: per-class property frequencies with subtree fallback —

  /** Two-level type hierarchy over the testdata: customers typed by nation,
    * suppliers typed by (real) region; nation→region closure. Sparse types
    * (< 30 direct entities — the regions) accumulate their descendant
    * nations' customers (reference `impl/caligraph/entity.py:330-352`). */
  def propertyFreqSubtree(s: SparkSession, d: String): DataFrame = {
    val nations = Tables.nation(s, d)
    val custTypes = Tables.customer(s, d).select(
      concat(lit("c"), col("c_custkey")).as("ent"),
      concat(lit("n"), col("c_nationkey")).as("tpe"))
    val supTypes = Tables.supplier(s, d)
      .join(nations, col("s_nationkey") === col("n_nationkey"))
      .select(concat(lit("s"), col("s_suppkey")).as("ent"),
              concat(lit("r"), col("n_regionkey")).as("tpe"))
    val entityTypes = custTypes.unionByName(supTypes)
    val relations = Tables.orders(s, d).select(
        concat(lit("c"), col("o_custkey")).as("sub"),
        concat(lit("prio:"), col("o_orderpriority")).as("pred"),
        lit("x").as("obj"))
      .unionByName(Tables.lineitem(s, d).select(
        concat(lit("s"), col("l_suppkey")).as("sub"),
        concat(lit("rf:"), col("l_returnflag")).as("pred"),
        lit("x").as("obj")))
    val allTypes = entityTypes.select("tpe").distinct()
    val closureSelf = allTypes
      .select(col("tpe").as("node"), col("tpe").as("anc"))
      .unionByName(nations.select(
        concat(lit("n"), col("n_nationkey")).as("node"),
        concat(lit("r"), col("n_regionkey")).as("anc")))
    PropertyFrequencies.perClass(entityTypes, relations, closureSelf,
                                 minEntities = 30L)
  }

  val propertyFreqSubtreeSql: String =
    """WITH etypes AS (
         SELECT 'c'||c_custkey AS ent, 'n'||c_nationkey AS tpe FROM customer
         UNION ALL
         SELECT 's'||s_suppkey, 'r'||n_regionkey
         FROM supplier JOIN nation ON s_nationkey = n_nationkey),
       rels AS (
         SELECT 'c'||o_custkey AS ent, 'prio:'||o_orderpriority AS pred FROM orders
         UNION ALL
         SELECT 's'||l_suppkey, 'rf:'||l_returnflag FROM lineitem),
       closure AS (
         SELECT DISTINCT tpe AS node, tpe AS anc FROM etypes
         UNION
         SELECT 'n'||n_nationkey, 'r'||n_regionkey FROM nation),
       direct AS (
         SELECT t.tpe, r.pred, count(DISTINCT t.ent) AS cnt
         FROM etypes t JOIN rels r ON t.ent = r.ent GROUP BY 1, 2),
       dsizes AS (SELECT tpe, count(DISTINCT ent) AS n_entities
                  FROM etypes GROUP BY 1),
       directf AS (
         SELECT d.tpe, d.pred,
           round(CAST(d.cnt AS DOUBLE) / CAST(s.n_entities AS DOUBLE), 6) AS freq,
           s.n_entities
         FROM direct d JOIN dsizes s ON d.tpe = s.tpe),
       dense AS (SELECT *, false AS via_subtree FROM directf
                 WHERE n_entities >= 30),
       sparse_types AS (SELECT DISTINCT tpe FROM directf WHERE n_entities < 30),
       sub_etypes AS (
         SELECT t.ent, c.anc AS tpe
         FROM etypes t JOIN closure c ON t.tpe = c.node
         JOIN sparse_types st ON c.anc = st.tpe),
       scnt AS (SELECT t.tpe, r.pred, count(DISTINCT t.ent) AS cnt
                FROM sub_etypes t JOIN rels r ON t.ent = r.ent GROUP BY 1, 2),
       ssizes AS (SELECT tpe, count(DISTINCT ent) AS n_entities
                  FROM sub_etypes GROUP BY 1),
       sparse AS (
         SELECT c.tpe, c.pred,
           round(CAST(c.cnt AS DOUBLE) / CAST(s.n_entities AS DOUBLE), 6) AS freq,
           s.n_entities, true AS via_subtree
         FROM scnt c JOIN ssizes s ON c.tpe = s.tpe)
       SELECT tpe, pred, freq, n_entities, via_subtree FROM dense
       UNION ALL
       SELECT tpe, pred, freq, n_entities, via_subtree FROM sparse"""

  // — F7: the relational table-grid parser as a driver oracle row —

  /** One deterministic wikitable page per `part` row, shape keyed by
    * p_partkey % 5, driving the REAL window-based parser
    * ([[graft.listings.ListingExtract.mentionsRelational]] — the richest
    * relational logic in the repo, r2 VERDICT ask #8). The oracle derives
    * the surviving mentions INDEPENDENTLY from the generator parameters:
    *  v=0 two clean tables (4+3 rows; table 1 also plants an all-digit
    *      label that F8 must drop, leaving an item_idx gap) → keys
    *      table:T and table:T#1;
    *  v=1 a rowspan=2 row whose covered successor is span-affected and
    *      skipped (labels 1,2,4,5 at idx 1-4);
    *  v=2 a table killed by a 1-cell row, then a clean table that takes
    *      the UNsuffixed key (numbering counts only survivors);
    *  v=3 a 2-data-row table → dropped whole;
    *  v=4 a colspan=2 row (span-affected, skipped) among 3 clean rows. */
  def f7TableGrid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pages = Tables.part(s, d)
      .select(col("p_partkey").cast("long")).as[Long]
      .map(i => (s"https://x.org/t$i", f7PageText(i)))
      .toDF("url", "text")
    graft.listings.ListingExtract.mentionsRelational(pages)
  }

  private def f7PageText(i: Long): String = {
    def tbl(rows: Seq[String]): Seq[String] =
      Seq("{|", "! H !! N") ++ rows ++ Seq("|}")
    def clean(prefix: String, ns: Seq[Int]): Seq[String] =
      ns.flatMap(r => Seq("|-", s"| [[$prefix $i $r]] || x"))
    val body: Seq[String] = (i % 5) match {
      case 0 =>
        tbl(clean("Alpha", Seq(1, 2, 3, 4)) ++
            Seq("|-", "| [[12345]] || x")) ++ // F8: all-digit label dropped
          tbl(clean("Beta", Seq(1, 2, 3)))
      case 1 =>
        tbl(Seq("|-", s"| [[Alpha $i 1]] || x",
                "|-", s"""| rowspan="2" | [[Alpha $i 2]] || x""",
                "|-", s"| [[Alpha $i 3]] under the rowspan",
                "|-", s"| [[Alpha $i 4]] || x",
                "|-", s"| [[Alpha $i 5]] || x"))
      case 2 =>
        tbl(clean("Killed", Seq(1, 2, 3)) ++ Seq("|-", "| lonely")) ++
          tbl(clean("Gamma", Seq(1, 2, 3)))
      case 3 =>
        tbl(clean("Thin", Seq(1, 2)))
      case _ =>
        tbl(Seq("|-", s"| [[Alpha $i 1]] || x",
                "|-", s"""| colspan="2" | [[Alpha $i 2]]""",
                "|-", s"| [[Alpha $i 3]] || x",
                "|-", s"| [[Alpha $i 4]] || x"))
    }
    (Seq("== T ==") ++ body).mkString("\n")
  }

  val f7TableGridSql: String =
    """WITH expect(v, suffix, prefix, lbl, idx) AS (VALUES
         (0, '', 'Alpha', 1, 1), (0, '', 'Alpha', 2, 2),
         (0, '', 'Alpha', 3, 3), (0, '', 'Alpha', 4, 4),
         (0, '#1', 'Beta', 1, 1), (0, '#1', 'Beta', 2, 2),
         (0, '#1', 'Beta', 3, 3),
         (1, '', 'Alpha', 1, 1), (1, '', 'Alpha', 2, 2),
         (1, '', 'Alpha', 4, 3), (1, '', 'Alpha', 5, 4),
         (2, '', 'Gamma', 1, 1), (2, '', 'Gamma', 2, 2),
         (2, '', 'Gamma', 3, 3),
         (4, '', 'Alpha', 1, 1), (4, '', 'Alpha', 3, 2),
         (4, '', 'Alpha', 4, 3)),
       parts AS (SELECT p_partkey AS i, CAST(p_partkey % 5 AS INT) AS v
                 FROM part)
       SELECT 'https://x.org/t'||i AS url,
              'table:T'||suffix AS listing_key,
              idx AS item_idx,
              'https://x.org/t'||i||'#table:T'||suffix||'#'||idx AS mention_id,
              prefix||' '||i||' '||lbl AS label
       FROM parts JOIN expect USING (v)"""

  // — Cat2Ax trie pattern probe (r2 VERDICT ask #3) —

  /** Drives the REAL [[graft.mine.PatternProbe.probe]] (greedy trie walk,
    * three dicts) over labels synthesized from `part` in the four classic
    * Cat2Ax shapes — front ("Wines of X"), back ("X albums"), enclosing
    * ("Best X of Europe"), and no-match. The pattern set has distinct
    * first/last tokens, so the greedy walk coincides with plain affix
    * matching and the DuckDB twin is expressible with LIKE + substr; the
    * greedy-vs-backtracking divergence cases are pinned in MineSpec. */
  def cat2axPatternProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cats = Tables.part(s, d).select(
      col("p_partkey").cast("string").as("cat_id"),
      when(col("p_partkey") % 4 === 0,
           concat(lit("Wines of Country "), col("p_partkey") % 7))
        .when(col("p_partkey") % 4 === 1,
              concat(lit("Brand "), col("p_partkey") % 9, lit(" albums")))
        .when(col("p_partkey") % 4 === 2,
              concat(lit("Best Region "), col("p_partkey") % 5,
                     lit(" of Europe")))
        .otherwise(concat(lit("Nothing here "), col("p_partkey")))
        .as("label"))
    val patterns = Seq(("Wines of", ""), ("", "albums"), ("Best", "of Europe"))
      .toDF("front_pattern", "back_pattern")
    graft.mine.PatternProbe.probe(patterns, cats)
  }

  val cat2axPatternProbeSql: String =
    """WITH cats AS (SELECT CAST(p_partkey AS VARCHAR) AS cat_id,
         CASE WHEN p_partkey % 4 = 0
                THEN 'Wines of Country ' || (p_partkey % 7)
              WHEN p_partkey % 4 = 1
                THEN 'Brand ' || (p_partkey % 9) || ' albums'
              WHEN p_partkey % 4 = 2
                THEN 'Best Region ' || (p_partkey % 5) || ' of Europe'
              ELSE 'Nothing here ' || p_partkey END AS label
         FROM part)
       SELECT cat_id, 'front' AS dict, 'Wines of' AS front_pattern,
              '' AS back_pattern, 2 AS front_len, 0 AS back_len,
              substr(label, 10) AS text_diff
       FROM cats WHERE label LIKE 'Wines of %'
       UNION ALL
       SELECT cat_id, 'back', '', 'albums', 0, 1,
              substr(label, 1, length(label) - 7)
       FROM cats WHERE label LIKE '% albums'
       UNION ALL
       SELECT cat_id, 'enclosing', 'Best', 'of Europe', 1, 2,
              substr(label, 6, length(label) - 15)
       FROM cats WHERE label LIKE 'Best % of Europe'"""

  // — A11: TF-IDF disjointness induction —

  /** Customer types (market segments) and supplier types (regions) carry
    * disjoint predicate vocabularies (order priorities vs return flags), so
    * every cross pair has cosine 0 <= 0.132 → disjoint; same-side pairs are
    * near-parallel and excluded (reference `impl/dbpedia/heuristics.py:80-160`). */
  def disjointnessCosine(s: SparkSession, d: String): DataFrame = {
    val types = Tables.customer(s, d).select(
        concat(lit("c"), col("c_custkey")).as("ent"),
        concat(lit("seg:"), col("c_mktsegment")).as("tpe"))
      .unionByName(Tables.supplier(s, d)
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .select(concat(lit("s"), col("s_suppkey")).as("ent"),
                concat(lit("reg:"), col("n_regionkey")).as("tpe")))
    val relations = Tables.orders(s, d).select(
        concat(lit("c"), col("o_custkey")).as("sub"),
        concat(lit("prio:"), col("o_orderpriority")).as("pred"),
        lit("x").as("obj"))
      .unionByName(Tables.lineitem(s, d).select(
        concat(lit("s"), col("l_suppkey")).as("sub"),
        concat(lit("rf:"), col("l_returnflag")).as("pred"),
        lit("x").as("obj")))
    Induction.disjointness(relations, types, threshold = 0.132)
  }

  val disjointnessCosineSql: String =
    """WITH types AS (
         SELECT 'c'||c_custkey AS ent, 'seg:'||c_mktsegment AS tpe FROM customer
         UNION ALL
         SELECT 's'||s_suppkey, 'reg:'||n_regionkey
         FROM supplier JOIN nation ON s_nationkey = n_nationkey),
       rels AS (
         SELECT 'c'||o_custkey AS ent, 'prio:'||o_orderpriority AS pred FROM orders
         UNION ALL
         SELECT 's'||l_suppkey, 'rf:'||l_returnflag FROM lineitem),
       tp AS (SELECT t.tpe, r.pred, count(*) AS cnt
              FROM rels r JOIN types t ON r.ent = t.ent GROUP BY 1, 2),
       ntypes AS (SELECT count(DISTINCT tpe) AS n FROM types),
       df AS (SELECT pred, count(DISTINCT tpe) AS df FROM tp GROUP BY 1),
       tf AS (SELECT tpe, pred,
                CAST(cnt AS DOUBLE)
                  / CAST(sum(cnt) OVER (PARTITION BY tpe) AS DOUBLE) AS tf
              FROM tp),
       weights AS (SELECT tf.tpe, tf.pred,
                     tf.tf * ln(CAST((SELECT n FROM ntypes) AS DOUBLE)
                                / CAST(df.df AS DOUBLE)) AS w
                   FROM tf JOIN df ON tf.pred = df.pred),
       norms AS (SELECT tpe, sqrt(sum(w * w)) AS norm FROM weights GROUP BY 1),
       dots AS (SELECT a.tpe AS ta, b.tpe AS tb, sum(a.w * b.w) AS dot
                FROM weights a JOIN weights b
                  ON a.pred = b.pred AND a.tpe < b.tpe GROUP BY 1, 2),
       all_pairs AS (
         SELECT a.tpe AS ta, b.tpe AS tb
         FROM (SELECT DISTINCT tpe FROM types) a,
              (SELECT DISTINCT tpe FROM types) b
         WHERE a.tpe < b.tpe),
       scored AS (
         SELECT p.ta, p.tb,
           COALESCE(d.dot, 0.0) / (na.norm * nb.norm) AS cos
         FROM all_pairs p
         LEFT JOIN dots d ON p.ta = d.ta AND p.tb = d.tb
         JOIN norms na ON na.tpe = p.ta
         JOIN norms nb ON nb.tpe = p.tb)
       SELECT ta, tb, round(cos, 6) AS cos FROM scored WHERE cos <= 0.132"""

  /** M4 negative-sample synthesis ([[graft.mine.NegativeSampling]]) as a
    * driver oracle row. Fixture: parts become listings (every 3rd an enum,
    * the rest tables with 2..5 columns, 3..9 items); chunk counts = one
    * chunk per listing. The md5-derived group/context/slot/item choices
    * reproduce exactly in DuckDB (PortableHash's contract). */
  def m4NegativeChunks(s: SparkSession, d: String): DataFrame = {
    val ls = Tables.part(s, d).select(
      concat(lit("L"),
             lpad(col("p_partkey").cast("string"), 6, "0")).as("listing_key"),
      when(col("p_partkey") % 3 === 0, "enum").otherwise("table")
        .as("listing_type"),
      when(col("p_partkey") % 3 === 0, lit(0))
        .otherwise(lit(2) + col("p_partkey") % 4).cast("int").as("n_cols"),
      (lit(3) + col("p_partkey") % 7).cast("int").as("n_items"))
    val counts = ls.groupBy("listing_type").agg(count(lit(1)).as("n_chunks"))
    graft.mine.NegativeSampling.negativeListings(ls, counts, 0.3, "m4")
  }

  val m4NegativeChunksSql: String =
    """WITH ls AS (
         SELECT 'L'||lpad(CAST(p_partkey AS VARCHAR),6,'0') AS listing_key,
                CASE WHEN p_partkey % 3 = 0 THEN 'enum'
                     ELSE 'table' END AS listing_type,
                CAST(CASE WHEN p_partkey % 3 = 0 THEN 0
                     ELSE 2 + p_partkey % 4 END AS INTEGER) AS n_cols,
                CAST(3 + p_partkey % 7 AS INTEGER) AS n_items
         FROM part),
       keyed AS (SELECT *, CASE WHEN listing_type='table' THEN 't'||n_cols
                           ELSE 'e' END AS gk FROM ls),
       ranked AS (SELECT *, row_number() OVER (PARTITION BY gk
                    ORDER BY listing_key) - 1 AS rank0 FROM keyed),
       groups AS (SELECT listing_type, gk, count(*) AS grp_size
                  FROM keyed GROUP BY 1,2 HAVING count(*) >= 3),
       gw AS (SELECT *,
                sum(grp_size) OVER (PARTITION BY listing_type
                                    ORDER BY gk) AS cum_hi,
                sum(grp_size) OVER (PARTITION BY listing_type
                                    ORDER BY gk) - grp_size AS cum_lo,
                sum(grp_size) OVER (PARTITION BY listing_type) AS total
              FROM groups),
       tc AS (SELECT listing_type,
                CAST(floor(count(*) * CAST(0.3 AS DOUBLE)) AS BIGINT) AS nneg
              FROM ls GROUP BY 1),
       nidx AS (SELECT listing_type, unnest(range(nneg)) AS i FROM tc),
       wgrp AS (SELECT n.listing_type, n.i, g.gk, g.grp_size
                FROM nidx n JOIN gw g ON n.listing_type = g.listing_type
                  AND (('0x'||substr(md5('m4|grp|'||CAST(n.i AS VARCHAR)),
                        1,12))::BIGINT % g.total)
                      BETWEEN g.cum_lo AND g.cum_hi - 1),
       sized AS (SELECT *,
           ('0x'||substr(md5('m4|ctx|'||CAST(i AS VARCHAR)),1,12))::BIGINT
             % grp_size AS ctx_rank,
           3 + ('0x'||substr(md5('m4|n|'||CAST(i AS VARCHAR)),1,12))::BIGINT
             % (least(grp_size,16) - 3 + 1) AS n_slots,
           ('0x'||substr(md5('m4|smp|'||CAST(i AS VARCHAR)),1,12))::BIGINT
             % grp_size AS start
         FROM wgrp),
       wctx AS (SELECT s.*, r.listing_key AS ctx_listing_key, r.n_cols
                FROM sized s JOIN ranked r
                  ON s.gk = r.gk AND s.ctx_rank = r.rank0),
       slots AS (SELECT listing_type, gk, i, n_cols, ctx_listing_key,
                   start, grp_size, unnest(range(n_slots)) AS slot
                 FROM wctx)
       SELECT sl.listing_type||'#'||CAST(sl.i AS VARCHAR) AS neg_id,
         sl.listing_type, sl.n_cols, sl.ctx_listing_key, sl.slot,
         r.listing_key AS src_listing_key,
         ('0x'||substr(md5('m4|it|'||CAST(sl.i AS VARCHAR)||'|'||
           CAST(sl.slot AS VARCHAR)),1,12))::BIGINT % r.n_items AS item_idx
       FROM slots sl JOIN ranked r ON sl.gk = r.gk
         AND (sl.start + sl.slot) % sl.grp_size = r.rank0"""
}
