package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.classic.ClassicConversions._

/** String normalizers for linking (SURVEY.md §2.8).
  *
  * The alias key (N8; reference semantics: lower → ascii-fold → alphanumeric,
  * `/root/reference/impl/subject_entity/entity_disambiguation/matching/lexical.py:47-49,93-96`)
  * is THE hot path — it runs once per mention per page, i.e. ~10^10 times at
  * corpus scale — so it is a native Catalyst Expression with `doGenCode`
  * (single-pass char loop, no regex machinery, stays inside whole-stage
  * codegen) rather than a Scala UDF (ser/de per row) or a regexp_replace
  * chain (multiple UTF8String rewrites).
  */
object Normalize {

  /** Native alias-key expression: keep [a-z0-9], lowercase A-Z, drop all
    * other code points. Single pass over the UTF-8 bytes. */
  case class AliasKeyExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      UTF8String.fromString(AliasKeyExpr.key(s))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = UTF8String.fromString(" +
          s"graft.core.Normalize.aliasKeyJava($c.toString()));")

    override protected def withNewChildInternal(newChild: Expression): AliasKeyExpr =
      copy(child = newChild)
  }

  object AliasKeyExpr {
    def key(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val ch = s.charAt(i)
        if (ch >= 'a' && ch <= 'z') sb.append(ch)
        else if (ch >= 'A' && ch <= 'Z') sb.append((ch + 32).toChar)
        else if (ch >= '0' && ch <= '9') sb.append(ch)
        // ascii-fold the latin-1 supplement the reference's unidecode handles
        else if (ch >= 'À' && ch <= 'Þ') sb.append(fold((ch + 32).toChar))
        else if (ch >= 'ß' && ch <= 'ÿ') sb.append(fold(ch))
        i += 1
      }
      sb.toString
    }
    private def fold(c: Char): Char = c match {
      case x if x >= 'à' && x <= 'å' => 'a'
      case 'ç' => 'c'
      case x if x >= 'è' && x <= 'ë' => 'e'
      case x if x >= 'ì' && x <= 'ï' => 'i'
      case 'ñ' => 'n'
      case x if (x >= 'ò' && x <= 'ö') || x == 'ø' => 'o'
      case x if x >= 'ù' && x <= 'ü' => 'u'
      case 'ý' | 'ÿ' => 'y'
      case 'ß' => 's'
      case _ => c
    }
  }

  /** Called from generated code — must be public + stable. */
  def aliasKeyJava(s: String): String = AliasKeyExpr.key(s)

  /** Register the native expressions ([[graft.GraftExtensions.Functions]])
    * in the session's function registry (idempotent; the public way to
    * splice a custom Expression into plans). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = castToImpl(spark).sessionState.functionRegistry
    for (f <- graft.GraftExtensions.Functions)
      reg.createOrReplaceTempFunction(f.name, f.build, "built-in")
  }

  /** Column wrapper for the native expression. Requires [[register]] to have
    * run on the session (pipeline entry points and specs do). */
  def aliasKey(c: Column): Column = call_function("alias_key", c)

  /** By-phrase exceptions, verbatim from the reference
    * (`impl/util/spacy/components.py:89`). */
  private val ByPhraseExceptions = Set(
    "bell hooks", "DBC Pierre", "KT Tunstall", "U-Wei Saari",
    "`Abdu'l-Bahá", "ibn Hazm", "2XL Games")

  /** python str.isupper(): has a cased char and every cased char is upper. */
  private def isAllUpper(w: String): Boolean =
    w.exists(_.isLetter) && w.filter(_.isLetter).forall(_.isUpper)

  /** NNS approximation (no POS tagger): lowercase-initial word that
    * singularizes (plural common noun). Proper nouns ("Honduras") keep
    * their capital and never trigger, matching spaCy's NNP vs NNS split. */
  private def looksPluralNoun(w: String): Boolean =
    w.nonEmpty && w.head.isLower && w.length > 3 && w.endsWith("s") &&
      !w.endsWith("ss") && !w.endsWith("us") && !w.endsWith("is")

  /** VBN approximation: -ed participle or a small irregular list. */
  private val IrregularParticiples = Set(
    "born", "made", "written", "sung", "held", "known", "set", "built",
    "found", "won", "given", "taken", "drawn", "seen")
  private def looksParticiple(w: String): Boolean = {
    val l = w.toLowerCase(java.util.Locale.ROOT)
    l.endsWith("ed") || IrregularParticiples(l)
  }

  /** N4: remove the organisational 'by'-phrase — a faithful port of the
    * reference's tagger rules (`impl/util/spacy/components.py:92-117` +
    * `impl/util/nlp.py:129-140`), POS judgments approximated as documented
    * on [[looksPluralNoun]]/[[looksParticiple]] (the lexhead co-occurrence
    * rule is not ported — no lexhead tags here). Pinned by the reference's
    * own unit pairs (`tests/unit/util/test_nlp.py:17-23`). */
  def removeByPhraseJava(s: String): String = {
    val toks = s.split("\\s+").filter(_.nonEmpty)
    val byIdx = toks.indices.filter(toks(_) == "by")
    if (byIdx.isEmpty) return s
    // words after the by-phrase (e.g. 'in Honduras') are kept. Two
    // INDEPENDENT checks like the reference (components.py:85-90): when
    // both appear, the later 'from' assignment OVERRIDES the 'in' one.
    var endIndex = toks.length
    val afterLastBy = toks.drop(byIdx.last + 1)
    if (afterLastBy.contains("in"))
      endIndex = byIdx.last + 1 + afterLastBy.indexOf("in")
    if (afterLastBy.contains("from"))
      endIndex = byIdx.last + 1 + afterLastBy.indexOf("from")
    for ((bi, k) <- byIdx.zipWithIndex) {
      val curEnd = if (k == byIdx.length - 1) endIndex else byIdx(k + 1)
      val valid =
        bi != 0 && bi != toks.length - 1 && {
          val after = toks.slice(bi + 1, curEnd)
          val textAfter = after.mkString(" ")
          after.nonEmpty && textAfter.nonEmpty &&
          !ByPhraseExceptions(textAfter) && {
            val w = after.head
            // capitalized (and not an all-caps acronym) → a name, keep
            !(w.head.isUpper && (w.endsWith(".") || !isAllUpper(w)))
          } &&
          !toks.drop(bi + 1).exists(looksPluralNoun) &&
          !looksParticiple(toks(bi - 1)) &&
          !Set("a", "an", "the")(toks(bi + 1))
        }
      if (valid)
        return (toks.take(bi) ++ toks.drop(endIndex)).mkString(" ")
    }
    s
  }

  /** N3 canonical label: by-phrase removal + the reference's alphabetical-
    * split scrubbers, ported regex-for-regex from
    * `/root/reference/impl/util/nlp.py:89-100` (get_canonical_label). */
  def canonicalLabelJava(s: String): String = {
    var t = removeByPhraseJava(s)
    t = t.replaceAll("\\s*/[A-Za-z]+:\\s*[A-Za-z](\\s*[-–]\\s*[A-Za-z])?$", "")
    t = t.replaceAll("\\s+\\([^()]+[-–][^()]+\\)$", "")
    t = t.replaceAll("\\s+\\([A-Z]\\)$", "")
    t = t.replaceAll("\\s*[-:,–]\\s*[A-Z][a-z]*\\s?[-–]\\s?[A-Z][a-z]*$", "")
    t = t.replaceAll("\\s*[-:–]\\s*([A-Z],\\s*)*[A-Z]$", "")
    t = t.replaceAll("\\s*/([A-Z],\\s*)*[A-Z]$", "")
    t = t.replaceAll("\\s+([A-Z],\\s*)+[A-Z]$", "")
    t = t.replaceAll("\\s*:\\s*..?\\s*[-–]\\s*..?$", "")
    t.split("\\s+").filter(_.nonEmpty).mkString(" ")
      .replaceAll(",+$", "")
  }

  case class CanonicalLabelExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(
        canonicalLabelJava(input.asInstanceOf[UTF8String].toString))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = UTF8String.fromString(" +
          s"graft.core.Normalize.canonicalLabelJava($c.toString()));")
    override protected def withNewChildInternal(newChild: Expression): CanonicalLabelExpr =
      copy(child = newChild)
  }

  /** Column form; requires [[register]] (pipeline entry points and specs
    * do). Cold path — runs per listing/category, not per mention. */
  def canonicalLabel(c: Column): Column =
    call_function("canonical_label", c)

  case class PluralLexheadExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.BooleanType
    override def nullSafeEval(input: Any): Any =
      hasPluralLexheadSubjectsJava(input.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.core.Normalize" +
          s".hasPluralLexheadSubjectsJava($c.toString());")
    override protected def withNewChildInternal(newChild: Expression): PluralLexheadExpr =
      copy(child = newChild)
  }

  /** F5 column form (requires [[register]]). */
  def pluralLexhead(c: Column): Column =
    call_function("plural_lexhead", c)

  /** Naive deterministic plural→singular (N6 semantics;
    * `/root/reference/impl/util/nlp.py:143-161`): rule-based, no dictionary
    * dependencies, deterministic on the fixture vocabulary. */
  def singularize(c: Column): Column =
    when(c.rlike("(ss|us|is)$"), c)
      .when(c.rlike("ies$"), concat(c.substr(lit(1), length(c) - 3), lit("y")))
      .when(c.rlike("(ches|shes|xes)$"), c.substr(lit(1), length(c) - 2))
      .when(c.rlike("s$"), c.substr(lit(1), length(c) - 1))
      .otherwise(c)

  /** Scala twin of [[singularize]] for driver-side taxonomy surgery
    * (rule-for-rule identical; equality asserted in NormalizeNtSpec). */
  def singularizeJava(s: String): String =
    if (s.matches(".*(ss|us|is)$")) s
    else if (s.matches(".*ies$")) s.dropRight(3) + "y"
    else if (s.matches(".*(ches|shes|xes)$")) s.dropRight(2)
    else if (s.matches(".*s$")) s.dropRight(1)
    else s

  /** Word-shape stand-in for spaCy's noun-chunk boundary (N5): the lexical
    * head of a category label is its FIRST noun-chunk run — prepositions,
    * subordinators and relative pronouns never occur inside a noun chunk,
    * so the head span is the canonical-label token run truncated at the
    * first such stopper (reference: `impl/util/spacy/components.py:12-44`
    * tag_lexical_head walks noun_chunks from the FRONT and stops at the
    * first chunk whose root is not a common noun). Anchoring at the END of
    * the label — the pre-r3 behavior — misclassified the dominant
    * "Princesses of France" shape (head would be 'France'). */
  private val HeadSpanStoppers = Set(
    "of", "in", "from", "at", "for", "on", "to", "by", "with", "during",
    "within", "without", "under", "over", "about", "against", "between",
    "near", "across", "through", "since", "until", "before", "after",
    "into", "onto", "toward", "towards", "among", "along", "via", "per",
    "who", "whom", "which", "that", "whose", "where", "when")

  /** N5 lexical-head span: canonical-label tokens before the first stopper
    * (the whole run when the label STARTS with a stopper — degenerate
    * titles like "Of Mice and Men" keep their full run). */
  def lexheadTokensJava(label: String): Seq[String] = {
    val toks = canonicalLabelJava(label)
      .split("\\s+").filter(_.nonEmpty).toSeq
    val cut = toks.indexWhere(t =>
      HeadSpanStoppers(t.stripSuffix(",").toLowerCase(java.util.Locale.ROOT)))
    if (cut <= 0) toks else toks.take(cut)
  }

  /** (head-span tokens, index where the trailing connector-joined SUBJECT
    * zone begins). The zone walk mirrors tag_lexical_head_subjects
    * (components.py:47-68): from the last head token backwards across
    * and/or/"," connectors. */
  private def headSpanWithZone(label: String): (Seq[String], Int) = {
    val toks = lexheadTokensJava(label)
    if (toks.isEmpty) return (toks, 0)
    val connectors = Set("and", "or")
    var start = toks.length - 1
    var i = toks.length - 2
    var continue = true
    while (i >= 0 && continue) {
      val raw = toks(i)
      if (connectors(raw.toLowerCase(java.util.Locale.ROOT))) {
        if (i - 1 >= 0) { start = i - 1; i -= 2 } else continue = false
      } else if (raw.endsWith(",")) {
        start = i // comma-joined list member
        i -= 1
      } else continue = false // not a connector → zone complete
    }
    (toks, start)
  }

  /** N5/F5: lexical-head SUBJECTS of a label — the trailing connector-run
    * of the HEAD SPAN (not of the whole label), in reverse label order
    * (the reference walks the head in reverse). "Princesses of France" →
    * Seq("Princesses"); "Essays, poems and plays" → plays/poems/Essays. */
  def lexheadSubjectsJava(label: String): Seq[String] = {
    val (toks, start) = headSpanWithZone(label)
    if (toks.isEmpty) return Nil
    val connectors = Set("and", "or")
    (start until toks.length).reverse
      .map(toks(_))
      .filterNot(t => connectors(t.toLowerCase(java.util.Locale.ROOT)))
      .map(_.stripSuffix(","))
      .filter(_.nonEmpty)
  }

  /** Subject lemmas (≙ nlp_util.get_lexhead_subjects: lemmatized LHS
    * tokens): lowercased singular forms — the blocking key of the
    * reference's head-lemma graph surgery. */
  def lexheadSubjectLemmasJava(label: String): Set[String] =
    lexheadSubjectsJava(label).map(s => singularizeJava(s.toLowerCase(java.util.Locale.ROOT))).toSet

  /** Lexical-head info for taxonomy surgery (≙ hierarchy_graph.py:44-60
    * get_node_LHS / get_node_LH / get_node_NH):
    *  - `subjects`: LHS lemmas (blocking key);
    *  - `remainder`: non-subject head-span tokens, lowercased (compound
    *    modifiers — "science", "fiction" of "Science fiction writers");
    *  - `nonHead`: everything after the head span ("of France"). */
  case class HeadInfo(subjects: Set[String], remainder: Set[String],
                      nonHead: String)

  def headInfoJava(label: String): HeadInfo = {
    val (toks, start) = headSpanWithZone(label)
    val remainder = toks.take(start)
      .map(_.stripSuffix(",").toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty).toSet
    val all = canonicalLabelJava(label)
      .split("\\s+").filter(_.nonEmpty).toSeq
    val nonHead = all.drop(toks.length).mkString(" ")
    HeadInfo(lexheadSubjectLemmasJava(label), remainder, nonHead)
  }

  /** Multi-token lexical-head key (N5): the FULL head span — modifiers
    * lowercased, subjects singularized, connectors/commas dropped — so
    * "Science fiction writers" keys as "science fiction writer", distinct
    * from "Fiction writers" → "fiction writer" (pre-r3 both keyed
    * "writer"), and "Princesses of France" keys as "princess" (not
    * "france"). */
  def headKeyJava(label: String): String = {
    val (toks, start) = headSpanWithZone(label)
    val connectors = Set("and", "or")
    toks.zipWithIndex.flatMap { case (raw, i) =>
      val t = raw.stripSuffix(",").toLowerCase(java.util.Locale.ROOT)
      if (t.isEmpty || connectors(t)) None
      else if (i >= start) Some(singularizeJava(t))
      else Some(t)
    }.mkString(" ")
  }

  /** has_plural_lexhead_subjects (`impl/util/nlp.py:109-115`): true iff
    * there IS a plural subject and NO singular subject — "Novels and
    * films" qualifies, "Film and books" does not (the singular 'film'
    * vetoes), "London" does not. */
  def hasPluralLexheadSubjectsJava(label: String): Boolean = {
    val subjects = lexheadSubjectsJava(label)
    subjects.nonEmpty &&
      subjects.forall(s => singularizeJava(s) != s) // all plural
  }
}
