package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All pure column algebra
  * (codegen-friendly, no UDFs); the same formulas surface in
  * [[graft.Queries]] with DuckDB oracle twins. */
object TextStats {

  /** Characteristic word lists per language — the seed material the
    * character-trigram profiles are built from (the standard n-gram-profile
    * language-ID construction, Cavnar–Trenkle style, reduced to a fixed
    * deterministic profile table so the score is an exact integer in every
    * engine). Eight real languages, seeded from each language's most
    * common function words (public-knowledge stopword lists) — enough
    * profile mass that organic text of any of them wins its own argmax;
    * accented seeds are deliberate (their trigrams are strong
    * discriminators and exercise the UTF-8 = character semantics both
    * engines share). Order matters: it is the deterministic tie-break of
    * [[langId]], so 'en' first keeps English the default on degenerate
    * all-tie rows (score 0). */
  val profileWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "that", "this", "from", "with",
      "have", "not", "are", "was"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ich", "sie",
      "mit", "auf", "für", "ein"),
    "fr" -> Seq("le", "la", "les", "des", "une", "est", "que", "pas",
      "pour", "dans", "avec", "sur"),
    "es" -> Seq("el", "los", "las", "una", "por", "con", "para", "como",
      "pero", "más", "este", "qué"),
    "it" -> Seq("il", "gli", "della", "che", "per", "con", "non", "una",
      "sono", "come", "anche", "più"),
    "pt" -> Seq("os", "uma", "para", "com", "não", "por", "mais", "dos",
      "como", "mas", "foi", "ele"),
    "nl" -> Seq("de", "het", "een", "van", "en", "dat", "niet", "met",
      "voor", "zijn", "ook", "maar"),
    "id" -> Seq("yang", "dan", "di", "ini", "itu", "dengan", "untuk",
      "tidak", "dari", "akan", "pada", "adalah"),
    // Non-Latin scripts — the trigram machinery is script-agnostic (both
    // engines share UTF-8 = character semantics for length/substr):
    // Cyrillic and Arabic are space-separated, so function-word seeds work
    // exactly like the Latin rows. Chinese is NOT space-separated, so its
    // seeds are common MULTI-character sequences whose INNER trigrams
    // carry no space and therefore match continuous (unsegmented) text —
    // a single-character seed would only produce space-bound trigrams that
    // continuous CJK never contains. (Hand-authored seeds are the fixed
    // deterministic baseline; derive corpus-specific profiles with
    // [[trainProfiles]].)
    "ru" -> Seq("и", "в", "не", "на", "что", "это", "как", "его",
      "она", "они", "для", "был"),
    "ar" -> Seq("في", "من", "على", "هذا", "التي", "الذي", "إلى", "كان",
      "لا", "ما", "هو", "عن"),
    "zh" -> Seq("我们的", "他们的", "这是一", "中国人", "可以说", "没有人",
      "什么是", "一个人", "就是说", "因为他", "所以我", "现在是"))

  /** Trigram profile per language: every padded character trigram of the
    * profile words (" th", "the", "he " for "the"), distinct and sorted —
    * a fixed table, identical in the Spark expression and the SQL oracle. */
  val trigramProfiles: Seq[(String, Seq[String])] = profileWords.map { case (l, ws) =>
    l -> ws.flatMap { w =>
      val p = s" $w "
      (0 to p.length - 3).map(i => p.substring(i, i + 3))
    }.distinct.sorted
  }

  /** Count of the text's padded character trigrams that appear in the
    * profile (with multiplicity) — pure integer column algebra. Built
    * entirely in the Column API (typedLit profile + array_contains), never
    * by interpolating the profile into a SQL string: interpolation breaks
    * on a quote-bearing entry and is expression injection on an arbitrary
    * one. (sequence(1, 0) counts DOWN in Spark, so the short-text guard
    * must stay even though the branch is merely wasteful, not wrong.) */
  def trigramScore(textCol: Column, profile: Seq[String]): Column = {
    val pad = concat(lit(" "), textCol, lit(" "))
    val prof = typedLit(profile)
    when(length(pad) < 3, lit(0)).otherwise(
      size(filter(transform(sequence(lit(1), length(pad) - 2),
        i => pad.substr(i, lit(3))), t => array_contains(prof, t))))
  }

  /** Predicted language: ordered argmax over the trigram-profile scores —
    * the FIRST profile (in [[profileWords]] order) achieving the maximum
    * wins ties, so 'en' is the deterministic default on all-zero rows.
    * Each score is computed once (array + array_position), not re-derived
    * per comparison as a when-cascade would. */
  def langId(textCol: Column): Column = langIdWith(textCol, trigramProfiles)

  /** [[langId]] over an ARBITRARY profile table — the hand-authored
    * [[trigramProfiles]] and a [[trainProfiles]]-derived table share one
    * scorer. Profile ORDER is the deterministic tie-break (first max
    * wins; the first profile is the all-zero default). */
  def langIdWith(textCol: Column,
      profiles: Seq[(String, Seq[String])]): Column = {
    val names = profiles.map(_._1)
    val scores = array(profiles.map { case (_, p) => trigramScore(textCol, p) }: _*)
    element_at(typedLit(names),
      array_position(scores, array_max(scores)).cast("int"))
  }

  /** TRAIN trigram profiles from a labeled sample — the derived (not
    * hand-picked) counterpart of [[trigramProfiles]]: per language, the
    * `topN` most frequent padded character trigrams of the labeled texts,
    * ties broken (count desc, trigram asc) so the result is a pure
    * function of the sample. Languages come out sorted by name — a
    * deterministic tie-break order for [[langIdWith]] (document which
    * language wins all-zero rows when you wire it into a gate).
    *
    * Scale shape: one explode → partial-agg count per (lang, trigram); the
    * top-N window partitions by LANGUAGE over the distinct-trigram counts
    * (bounded by the trigram space, never by corpus rows). The collect is
    * profile-sized: #languages × topN rows. */
  def trainProfiles(labeled: org.apache.spark.sql.DataFrame, langCol: String,
      textCol: String, topN: Int): Seq[(String, Seq[String])] = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val pad = concat(lit(" "), col(textCol), lit(" "))
    val tris = labeled.select(col(langCol).as("__lang"),
      explode(when(length(pad) < 3, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(pad) - 2),
          i => pad.substr(i, lit(3))))).as("__t"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__lang")).orderBy(col("__n").desc, col("__t").asc)
    tris.groupBy(col("__lang"), col("__t")).agg(count(lit(1)).as("__n"))
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("__rk") <= topN)
      .select(col("__lang"), col("__t"), col("__rk"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(2)).map(_.getString(1)).toSeq }
      .toSeq.sortBy(_._1)
  }

  /** [[langId]] at CORPUS scale — identical predictions, different plan
    * shape: the per-row form probes 8 profile arrays per trigram
    * (O(trigrams × profile) per row — right for a handful of score
    * columns, wasteful over 10⁹ documents), while this bulk form explodes
    * each document's padded trigrams once, inner-joins the BROADCAST
    * (trigram → lang) profile table (overlapping profiles join once per
    * language — multiplicity preserved, so scores are identical), and
    * takes a partial-agg argmax with the same first-profile tie-break.
    * Documents with zero profile hits keep the deterministic default
    * (first profile). Returns (idCol, pred). */
  def langIdBulk(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    langIdBulkWith(df, idCol, textCol, trigramProfiles)

  /** [[langIdBulk]] over an arbitrary profile table (e.g. a
    * [[trainProfiles]] result) — same broadcast-join argmax plan, profile
    * order = tie-break order, first profile = zero-hit default. */
  def langIdBulkWith(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      profiles: Seq[(String, Seq[String])]): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val names = profiles.map(_._1)
    val prof = broadcast(
      profiles.flatMap { case (l, ts) => ts.map(t => (t, l)) }
        .toDF("__t", "__lang"))
    val pad = concat(lit(" "), col(textCol), lit(" "))
    val tris = df
      .select(col(idCol),
        explode(when(length(pad) < 3, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), length(pad) - 2),
            i => pad.substr(i, lit(3))))).as("__t"))
    val rank = array_position(typedLit(names), col("__lang"))
    val best = tris.join(prof, "__t")
      .groupBy(col(idCol), col("__lang")).agg(count(lit(1)).as("__s"))
      .groupBy(col(idCol))
      .agg(min_by(col("__lang"),
        struct((-col("__s")).as("a"), rank.as("b"))).as("__p"))
    // null text predicts NULL (matching the per-row form, whose score
    // expressions propagate null) — only genuine zero-hit TEXT takes the
    // deterministic first-profile default
    df.select(col(idCol), col(textCol).isNull.as("__nulltext"))
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__nulltext"), lit(null).cast("string"))
          .otherwise(coalesce(col("__p"), lit(names.head))).as("pred"))
  }

  /** Single-quote-escaped SQL string literal (the only escaping DuckDB
    * literals need); shared by every profile-table SQL generator so a
    * quote-bearing entry can never inject. */
  def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB replay of [[trigramScore]] over SQL fragment `c` — generated
    * from the same profile constant the Spark expression uses. */
  def trigramScoreSql(c: String, profile: Seq[String]): String = {
    val lits = profile.map(sqlLit).mkString(",")
    s"""CAST(len(list_filter(list_transform(
       |    range(length(' ' || $c || ' ') - 2),
       |    i -> substr(' ' || $c || ' ', i + 1, 3)),
       |    t -> list_contains([$lits], t))) AS INT)""".stripMargin
  }

  /** DuckDB CASE replaying [[langId]]'s ordered argmax over per-language
    * score fragments (`scoreOf(lang)` — typically the aliased column):
    * first-max-wins is expressed as "score ≥ every later score". */
  def langIdCaseSql(scoreOf: String => String): String = {
    val names = trigramProfiles.map(_._1)
    names.init.zipWithIndex.map { case (n, i) =>
      val conds = names.drop(i + 1).map(l => s"${scoreOf(n)} >= ${scoreOf(l)}")
      s"WHEN ${conds.mkString(" AND ")} THEN '$n'"
    }.mkString("CASE ", " ", s" ELSE '${names.last}' END")
  }

  /** Deterministic planted language fixtures — (id, lang, text): five
    * rotations of each language's seed-word list. Rotation changes the
    * cross-word trigrams (the pad spans word boundaries), so the five
    * texts score differently while staying unambiguous. OpsSpec asserts
    * [[langId]] recovers `lang` for every row (the accuracy floor); the
    * oracle-gated q_langid carries them as a VALUES list generated from
    * this same constant. */
  val plantedFixtures: Seq[(String, String, String)] =
    profileWords.flatMap { case (lang, ws) =>
      (0 until 5).map { j =>
        val rotated = ws.drop(j) ++ ws.take(j)
        (s"$lang-$j", lang, rotated.mkString(" "))
      }
    }

  /** Integer quality score: 4·words + 3·stopwords (a text-density score
    * over the classifier's stopword list, graft.Classify.Stopwords). */
  def qualityScore(textCol: Column): Column = {
    val stops = graft.Classify.Stopwords.toSeq.sorted.map("'" + _ + "'").mkString(",")
    (lit(4) * size(split(textCol, " ")) +
      lit(3) * expr(s"size(filter(split(${textCol.toString()}, ' '), w -> w in ($stops)))"))
      .cast("int")
  }

  /** Whitespace token count. */
  def tokenCount(textCol: Column): Column = size(split(textCol, " "))

  /** BPE-style pre-tokenizer pattern (GPT-2's pre-tokenization regex
    * reduced to its engine-portable core): a token is an optionally
    * space-prefixed letter run, digit run, or single other symbol. Ordered
    * alternation behaves identically under Java regex (Spark) and RE2
    * (DuckDB) for these disjoint branches. */
  val PreTokenPattern: String = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]"

  /** All pre-tokens of a string column (array<string>). Column-native
    * (no SQL-string interpolation — a derived or backtick-needing column
    * would not round-trip through toString). */
  def preTokens(textCol: Column): Column =
    regexp_extract_all(textCol, lit(PreTokenPattern), lit(0))

  /** BPE-ish subword count estimate: tokens plus one extra per 6 chars of
    * long words (cheap deterministic proxy for a real tokenizer). */
  def subwordEstimate(textCol: Column): Column =
    expr(s"aggregate(split(${textCol.toString()}, ' '), 0, " +
      "(acc, w) -> acc + 1 + int(length(w) / 6))")

  /** Order-insensitive bag-of-words fingerprint. */
  def fingerprint(textCol: Column): Column =
    md5(array_join(array_sort(split(textCol, " ")), " "))
}
