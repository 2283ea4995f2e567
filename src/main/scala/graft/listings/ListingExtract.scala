package graft.listings

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints.pin

/** Text → listings → items → subject mentions, all windows partitioned by
  * url (page-local state never crosses a page boundary, so every window
  * shuffles once on url and stays balanced — pages are the unit of
  * parallelism at corpus scale, exactly like the reference's per-page
  * mp.Pool fan-out `/root/reference/impl/wikipedia/page_parser.py:186-195`).
  *
  * Semantics (reference citations):
  *  - section tracking + meta-section drop ≙ `page_parser.py:86-91`
  *  - enum items = "* " lines ≙ `page_parser.py:361-379`
  *  - tables (F7, full semantics ≙ `page_parser.py:382-420`):
  *      rows delimited by "|-", data cells "|"/"||", header cells "!"/"!!",
  *      cell attributes `attr=... | content` with rowspan/colspan;
  *      a row with <2 or >100 grid cells kills the WHOLE table (:394-395);
  *      row 0 and any row containing a header cell is the header (:416-418);
  *      rows whose span-expanded cell count differs from their raw count
  *      (i.e. rows affected by rowspan/colspan) are skipped (:407-409);
  *      tables with <3 surviving data rows are dropped (:411-412).
  *      Grid accounting is positional (incoming rowspans + colspan widths),
  *      equivalent to wtp's data(span=True) for non-overflowing spans.
  *  - listing usefulness: >=3 items ≙ `page_parser.py:254-258,363` (F2)
  *  - mention = first wikilink of the item (tables: of the FIRST cell),
  *    label validity length>2 and not all-digits ≙ `page_parser.py:436-437`,
  *    `mention_detection:111-112` (F8)
  */
object ListingExtract {

  val MetaSections: Seq[String] =
    Seq("See also", "References", "External links", "Notes")

  case class MentionRow(url: String, listing_key: String, item_idx: Int,
                        mention_id: String, label: String)

  /** One table cell: content after attribute stripping, header flag, and
    * its rowspan/colspan extent. */
  case class Cell(content: String, isHeader: Boolean, rowspan: Int,
                  colspan: Int)

  private val wikilink = java.util.regex.Pattern.compile("\\[\\[([^\\]|]+)")
  private val header = java.util.regex.Pattern.compile("^== (.*) ==$")
  private val allDigits = java.util.regex.Pattern.compile("^[0-9]+$")
  private val spanAttr = "(?:^|\\s)%s\\s*=\\s*\"?([0-9]+)"

  /** Parse one cell chunk: `attrs | content` when the prefix before the
    * FIRST pipe looks like attributes (contains '=', no brackets — a pipe
    * inside a wikilink never splits because '[' precedes it). */
  def parseCell(chunk: String, isHeader: Boolean): Cell = {
    val t = chunk.trim
    val pipeIdx = t.indexOf('|')
    if (pipeIdx >= 0) {
      val prefix = t.substring(0, pipeIdx)
      if (prefix.contains('=') && !prefix.contains('[') &&
          !prefix.contains(']')) {
        def attr(name: String): Int =
          spanAttr.format(name).r.findFirstMatchIn(prefix)
            .map(_.group(1).toInt).getOrElse(1)
        return Cell(t.substring(pipeIdx + 1).trim, isHeader,
                    attr("rowspan"), attr("colspan"))
      }
    }
    Cell(t, isHeader, 1, 1)
  }

  /** Assemble a table's data rows per the reference's semantics; returns
    * the subject (first) cell content of each surviving data row, or None
    * when the whole table is dropped. */
  def finalizeTable(rowsIn: Seq[Seq[Cell]]): Option[Seq[String]] = {
    val rows = rowsIn.filter(_.nonEmpty)
    // (remaining rows, colspan width) of active rowspans from earlier rows
    val pending = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val data = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((cells, rowIdx) <- rows.zipWithIndex) {
      val incoming = pending.map(_._2).sum
      val raw = cells.size
      val expanded = incoming + cells.map(_.colspan).sum
      if (expanded < 2 || expanded > 100)
        return None // one malformed row kills the table (:394-395)
      val isHeaderRow = rowIdx == 0 || cells.exists(_.isHeader)
      val spanAffected = expanded != raw
      for (i <- pending.indices)
        pending(i) = (pending(i)._1 - 1, pending(i)._2)
      pending.filterInPlace(_._1 > 0)
      cells.foreach(c =>
        if (c.rowspan > 1) pending += ((c.rowspan - 1, c.colspan)))
      if (!isHeaderRow && !spanAffected) data += cells.head.content
    }
    if (data.size < 3) None else Some(data.toSeq) // (:411-412)
  }

  /** Page-local parse: one page's listing state never crosses the row
    * boundary, so the whole extraction is a flatMap — ZERO shuffle, perfect
    * row-parallelism (the property that makes extraction scale linearly to
    * 10^12 docs; ≙ the reference's per-page mp.Pool fan-out,
    * `/root/reference/impl/wikipedia/page_parser.py:186-195`). Pure
    * function of (url, text): no RNG, no partition-order dependence. */
  def parsePage(url: String, text: String): Seq[MentionRow] = {
    var section = ""
    var depth = 0
    // (listing key) -> item texts in order
    val listings = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    val tablesInSection = scala.collection.mutable.Map.empty[String, Int]
    var tableRows: scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.ArrayBuffer[Cell]] = null
    var tableSection = ""

    def closeTable(): Unit = {
      finalizeTable(tableRows.map(_.toSeq).toSeq).foreach { items =>
        val n = tablesInSection.getOrElse(tableSection, 0)
        tablesInSection(tableSection) = n + 1
        val key = s"table:$tableSection" + (if (n > 0) s"#$n" else "")
        listings.getOrElseUpdate(key,
          scala.collection.mutable.ArrayBuffer.empty) ++= items
      }
      tableRows = null
    }
    def lastRow = {
      if (tableRows.isEmpty)
        tableRows += scala.collection.mutable.ArrayBuffer.empty[Cell]
      tableRows.last
    }

    text.split("\n", -1).foreach { line =>
      val h = header.matcher(line)
      if (h.matches()) section = h.group(1)
      else if (line.startsWith("{|")) {
        depth += 1
        if (depth == 1) {
          tableRows = scala.collection.mutable.ArrayBuffer.empty
          tableSection = section
        }
      } else if (line.startsWith("|}")) {
        if (depth == 1 && tableRows != null) closeTable()
        depth -= 1
      } else if (depth >= 2) {
        // nested table content: not parsed (wtp recurses; fixtures don't nest)
      } else if (depth == 1 && !MetaSections.contains(tableSection)) {
        if (line.startsWith("|-"))
          tableRows += scala.collection.mutable.ArrayBuffer.empty[Cell]
        else if (line.startsWith("!"))
          lastRow ++= line.substring(1).split("!!", -1) // -1 ≡ Spark split
            .map(parseCell(_, isHeader = true))
        else if (line.startsWith("|+")) {} // caption
        else if (line.startsWith("|"))
          lastRow ++= line.substring(1).split("\\|\\|", -1)
            .map(parseCell(_, isHeader = false))
      } else if (depth == 0 && !MetaSections.contains(section)) {
        if (line.startsWith("* "))
          listings.getOrElseUpdate(s"enum:$section",
            scala.collection.mutable.ArrayBuffer.empty) += line.substring(2)
      }
    }
    // a table left unclosed at end-of-page (truncated crawl) still counts —
    // wtp parses it, and the relational twin has no closed-ness requirement
    if (depth >= 1 && tableRows != null) closeTable()

    listings.iterator.flatMap { case (key, items) =>
      if (items.size < 3) Iterator.empty // F2 usefulness
      else items.iterator.zipWithIndex.flatMap { case (item, i) =>
        val m = wikilink.matcher(item)
        val label = if (m.find()) m.group(1) else ""
        if (label.length > 2 && !allDigits.matcher(label).matches()) // F8
          Iterator.single(MentionRow(url, key, i + 1, s"$url#$key#${i + 1}",
                                     label))
        else Iterator.empty
      }
    }.toSeq
  }

  /** (url, text) → mentions — the pipeline's hot path (flatMap form). */
  def mentions(pagesText: DataFrame): DataFrame = {
    val spark = pagesText.sparkSession
    import spark.implicits._
    pagesText.select("url", "text").as[(String, String)]
      .flatMap { case (url, text) => parsePage(url, text) }
      .toDF()
  }

  /** Relational (window-based) form of the same semantics — kept as the
    * cross-checked reference implementation: same output as [[mentions]]
    * (asserted in ListingSpec), but pays url-keyed shuffles for the window
    * state, which the flatMap form avoids entirely. The table grid
    * accounting (incoming rowspans, colspan widths, header/skip/kill rules)
    * is expressed as per-row aggregates + a bounded range join against the
    * span-emitting rows. */
  def mentionsRelational(pagesText: DataFrame): DataFrame = {
    val lines = pagesText.select(
      col("url"), posexplode(split(col("text"), "\n")).as(Seq("line_idx", "line")))

    val byUrl = Window.partitionBy("url").orderBy("line_idx")
    val cum = byUrl.rowsBetween(Window.unboundedPreceding, 0)
    val cumPrev = byUrl.rowsBetween(Window.unboundedPreceding, -1)

    // line-level; pinned — three consumers (enum items, table sections,
    // table content) would each re-run the explode + the url-keyed
    // cumulative windows over the corpus (the formatted plan showed the
    // full scan subtree repeated per consumer)
    val sectioned = pin(lines
      .withColumn("section_hdr",
        when(col("line").rlike("^== .* ==$"),
             regexp_extract(col("line"), "^== (.*) ==$", 1)))
      .withColumn("section",
        coalesce(last("section_hdr", ignoreNulls = true).over(cum), lit("")))
      .withColumn("depth_prev",
        coalesce(sum(when(col("line").startsWith("{|"), 1)
            .when(col("line").startsWith("|}"), -1).otherwise(0)).over(cumPrev),
          lit(0)))
      .withColumn("table_id",
        sum(when(col("line").startsWith("{|") && col("depth_prev") === 0, 1)
          .otherwise(0)).over(cum)))

    // — enum path (outside any table) —
    val enumItems = sectioned
      .filter(!col("section").isin(MetaSections: _*))
      .filter(col("line").startsWith("* ") && col("depth_prev") === 0 &&
              !col("line").startsWith("{|"))
      .withColumn("listing_key", concat(lit("enum:"), col("section")))
      .withColumn("item_text", expr("substring(line, 3)"))
      .withColumn("ord", col("line_idx"))
      .select("url", "listing_key", "item_text", "ord")

    // — table path —
    // table section = section at the opening "{|" line
    val tableSections = sectioned
      .filter(col("line").startsWith("{|") && col("depth_prev") === 0)
      .select(col("url"), col("table_id"), col("section").as("tsection"),
              col("line_idx").as("topen"))
    // top-level table content lines (inside exactly one table)
    val content = sectioned.filter(col("depth_prev") === 1 &&
        !col("line").startsWith("{|") && !col("line").startsWith("|}"))
      .withColumn("row_mark",
        sum(when(col("line").startsWith("|-"), 1).otherwise(0))
          .over(Window.partitionBy("url", "table_id").orderBy("line_idx")
            .rowsBetween(Window.unboundedPreceding, 0)))
    val cellLines = content
      .filter(!col("line").startsWith("|-") && !col("line").startsWith("|+") &&
              (col("line").startsWith("|") || col("line").startsWith("!")))
      .withColumn("is_hdr_line", col("line").startsWith("!"))
      .withColumn("chunks",
        when(col("is_hdr_line"), split(expr("substring(line, 2)"), "!!"))
          .otherwise(split(expr("substring(line, 2)"), "\\|\\|")))
    val attrPat = "^[^|\\[\\]]*=[^|\\[\\]]*\\|"
    // cell-level; pinned — the row aggregate and the rowspan carrier
    // both consume it (each cell pays three regexp_extracts to build)
    val cells = pin(cellLines.select(col("url"), col("table_id"), col("row_mark"),
        col("line_idx"), col("is_hdr_line"),
        posexplode(col("chunks")).as(Seq("cell_pos", "chunk")))
      .withColumn("cell", trim(col("chunk")))
      .withColumn("attrs", regexp_extract(col("cell"),
        "^([^|\\[\\]]*=[^|\\[\\]]*)\\|", 1))
      .withColumn("content",
        when(col("cell").rlike(attrPat),
             trim(regexp_replace(col("cell"), attrPat, "")))
          .otherwise(col("cell")))
      .withColumn("rowspan",
        coalesce(nullif(regexp_extract(col("attrs"),
          "(?:^|\\s)rowspan\\s*=\\s*\"?([0-9]+)", 1), lit("")).cast("int"),
          lit(1)))
      .withColumn("colspan",
        coalesce(nullif(regexp_extract(col("attrs"),
          "(?:^|\\s)colspan\\s*=\\s*\"?([0-9]+)", 1), lit("")).cast("int"),
          lit(1))))
    // row-level; pinned — three consumers (span carrier, incoming
    // left-outer, the grading join)
    val rowAgg = pin(cells.groupBy("url", "table_id", "row_mark")
      .agg(count(lit(1)).as("raw"),
           sum("colspan").as("colspan_sum"),
           max(col("is_hdr_line").cast("int")).as("hdr_any"),
           min(struct(col("line_idx"), col("cell_pos"), col("content")))
             .getField("content").as("first_cell"))
      .withColumn("row_pos", row_number().over(
        Window.partitionBy("url", "table_id").orderBy("row_mark")) - 1))
    // incoming rowspan widths: spans from row r' reach rows r'+1..r'+k-1
    val spans = cells.filter(col("rowspan") > 1)
      .join(rowAgg.select(col("url"), col("table_id"), col("row_mark"),
                          col("row_pos").as("span_row")),
            Seq("url", "table_id", "row_mark"))
      .select(col("url"), col("table_id"), col("span_row"),
              col("rowspan"), col("colspan"))
    val incoming = rowAgg.alias("r")
      .join(spans.alias("s"),
        col("r.url") === col("s.url") &&
        col("r.table_id") === col("s.table_id") &&
        col("r.row_pos") > col("s.span_row") &&
        col("r.row_pos") <= col("s.span_row") + col("s.rowspan") - 1,
        "left_outer")
      .groupBy(col("r.url").as("url"), col("r.table_id").as("table_id"),
               col("r.row_pos").as("row_pos"))
      .agg(coalesce(sum(col("s.colspan")), lit(0)).as("incoming"))
    val graded = rowAgg
      .join(incoming, Seq("url", "table_id", "row_pos"))
      .withColumn("expanded", col("colspan_sum") + col("incoming"))
      .withColumn("kills_table",
        col("expanded") < 2 || col("expanded") > 100)
      .withColumn("table_dead",
        max(col("kills_table").cast("int"))
          .over(Window.partitionBy("url", "table_id")) === 1)
      .withColumn("is_header", col("row_pos") === 0 || col("hdr_any") === 1)
      .withColumn("span_affected", col("expanded") =!= col("raw"))
    // row-level; pinned — consumed by the surviving-table numbering AND
    // the item join
    val dataRows = pin(graded
      .filter(!col("table_dead") && !col("is_header") && !col("span_affected"))
      .withColumn("n_data", count(lit(1)).over(
        Window.partitionBy("url", "table_id")))
      .filter(col("n_data") >= 3))
    // listing key: table:<section>, #idx for further tables in the section;
    // numbering counts only SURVIVING tables, in table order (≙ imperative)
    val keptTables = dataRows.select("url", "table_id").distinct()
      .join(tableSections, Seq("url", "table_id"))
      .withColumn("sec_idx", row_number().over(
        Window.partitionBy("url", "tsection").orderBy("table_id")) - 1)
      .withColumn("listing_key",
        concat(lit("table:"), col("tsection"),
               when(col("sec_idx") > 0, concat(lit("#"), col("sec_idx")))
                 .otherwise(lit(""))))
      .filter(!col("tsection").isin(MetaSections: _*))
      .select("url", "table_id", "listing_key", "topen")
    val tableItems = dataRows
      .join(keptTables, Seq("url", "table_id"))
      .select(col("url"), col("listing_key"),
              col("first_cell").as("item_text"),
              (col("topen") * lit(100000) + col("row_pos")).as("ord"))

    // — merge, number, extract mentions —
    val items = enumItems.unionByName(tableItems)
    val byListing = Window.partitionBy("url", "listing_key")
    val withIdx = items
      .withColumn("item_idx", row_number().over(byListing.orderBy("ord")))
      .withColumn("n_items", count(lit(1)).over(byListing))
      .filter(col("n_items") >= 3) // F2 usefulness

    withIdx
      .withColumn("label",
        regexp_extract(col("item_text"), "\\[\\[([^\\]|]+)", 1))
      .filter(length(col("label")) > 2 &&
              !col("label").rlike("^[0-9]+$")) // F8 validity
      .withColumn("mention_id",
        concat_ws("#", col("url"), col("listing_key"), col("item_idx")))
      .select("url", "listing_key", "item_idx", "mention_id", "label")
  }
}
