package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{StateStore, Tables}

/** Text-analysis operators over the `documents` table (SURVEY.md §2.2 +
  * the LLM-pipeline north star): token statistics, word/bigram frequency,
  * heuristic language ID, quality scoring, regex tokenization, and
  * rolling-hash document fingerprints.
  *
  * Scale posture: everything is explode → hash-aggregate (map-side
  * partials) or per-row array expressions — no driver-side collection, no
  * cross joins; at 100 TB each query is one scan plus at most one shuffle
  * on a bounded-cardinality key (lang, word, doc_id).
  *
  * Determinism: token counts and ratios are integers or int-ratio doubles
  * (exact IEEE division both engines); fingerprints use md5 (identical hex
  * in Spark and DuckDB) compared lexicographically.
  */
object TextOps {
  import QueryDef.sql

  private def docsWithTokens(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(s, dir)).withColumn("toks", split(col("text"), " "))

  /** Per-language corpus statistics. */
  val q21TextStats: QueryDef = sql(
    "q21_text_stats",
    """SELECT lang,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    docsWithTokens(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks"))).cast("long").as("total_tokens"),
        (sum(size(col("toks"))).cast("double") / count(lit(1))).as("avg_tokens"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  /** Global top-20 word frequency (explode → count → top-k). */
  val q22WordFreq: QueryDef = sql(
    "q22_word_freq",
    """SELECT word, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY word
      |ORDER BY n DESC, word
      |LIMIT 20""".stripMargin) { (s, dir) =>
    docsWithTokens(s, dir)
      .select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)
  }

  /** Word-bigram frequency via positional array access. */
  val q23BigramFreq: QueryDef = sql(
    "q23_bigram_freq",
    """SELECT bigram, COUNT(*) AS n
      |FROM (SELECT t.toks[i] || ' ' || t.toks[i + 1] AS bigram
      |      FROM (SELECT string_split(text, ' ') AS toks FROM documents) t,
      |           LATERAL (SELECT generate_subscripts(t.toks, 1) AS i)
      |      WHERE i <= len(t.toks) - 1)
      |GROUP BY bigram
      |ORDER BY n DESC, bigram
      |LIMIT 15""".stripMargin) { (s, dir) =>
    docsWithTokens(s, dir)
      .select(explode(expr(
        // guard: a doc shorter than the n-gram emits no n-grams (sequence() would run backwards)
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1])) ELSE array() END")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(15)
  }

  /** Marker-word profiles for the language-ID heuristic: tiny literal
    * relation, broadcast into the scoring join. */
  private val langProfiles: Seq[(String, String)] = Seq(
    "de" -> "data", "de" -> "value",
    "en" -> "the", "en" -> "a",
    "es" -> "query", "es" -> "row",
    "fr" -> "table", "fr" -> "line",
    "zh" -> "spark", "zh" -> "vector")

  /** Heuristic language ID: score each doc against per-language marker
    * profiles (n-gram-frequency heuristic), argmax with deterministic
    * alphabetical tie-break, report the actual×predicted confusion matrix.
    *
    * Formulated as pure per-row array expressions — zero explodes, zero
    * window shuffles; the only shuffle is the final tiny confusion-matrix
    * aggregate. The CASE chain in alphabetical language order reproduces
    * an `ORDER BY score DESC, lang` argmax exactly. */
  val q24LangId: QueryDef = {
    val langs = langProfiles.map(_._1).distinct.sorted
    def wordsOf(l: String) = langProfiles.filter(_._1 == l).map(_._2)
    def scoreSql(l: String) =
      s"len(list_filter(string_split(text, ' '), x -> ${wordsOf(l).map(w => s"x = '$w'").mkString(" OR ")}))"
    def scoreSpark(l: String) =
      s"size(filter(toks, x -> ${wordsOf(l).map(w => s"x = '$w'").mkString(" OR ")}))"
    sql(
      "q24_langid",
      s"""WITH scored AS (SELECT lang,
         |    ${langs.map(l => s"${scoreSql(l)} AS s_$l").mkString(",\n    ")}
         |  FROM documents),
         |best AS (SELECT lang,
         |    CASE ${langs.map(l => s"WHEN s_$l = GREATEST(${langs.map("s_" + _).mkString(", ")}) THEN '$l'").mkString(" ")}
         |    END AS predicted
         |  FROM scored)
         |SELECT lang, predicted, COUNT(*) AS n
         |FROM best GROUP BY lang, predicted
         |ORDER BY lang, predicted""".stripMargin) { (s, dir) =>
      val scored = langs.foldLeft(docsWithTokens(s, dir))(
        (df, l) => df.withColumn(s"s_$l", expr(scoreSpark(l))))
      val m = greatest(langs.map(l => col(s"s_$l")): _*)
      val predicted = langs.foldLeft(when(lit(false), ""))(
        (c, l) => c.when(col(s"s_$l") === m, l))
      scored.select(col("lang"), predicted.as("predicted"))
        .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }
  }

  /** Per-document quality scoring: length, stopword ratio, vocabulary
    * diversity — all from int counts, so the ratio arithmetic is
    * bit-identical across engines. */
  val q25QualityScore: QueryDef = sql(
    "q25_quality_score",
    """SELECT doc_id, lang,
      |  len(toks) AS n_tokens,
      |  CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks) AS stopword_ratio,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
      |  (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |    * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |    * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) AS quality
      |FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docsWithTokens(s, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", expr("size(filter(toks, x -> x = 'the' OR x = 'a'))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .select(
        col("doc_id"), col("lang"), col("n_tokens"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        (col("n_uniq").cast("double") / col("n_tokens")).as("uniq_ratio"),
        ((col("n_uniq").cast("double") / col("n_tokens")) *
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
          least(lit(1.0), col("n_tokens").cast("double") / 50.0)).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Rolling word-5-gram document fingerprint: md5 each shingle, keep the
    * lexicographic min/max + distinct count — a winnowing-style signature
    * that is one scan + one narrow aggregate at any scale. */
  val q26Fingerprint: QueryDef = sql(
    "q26_fingerprint",
    """SELECT doc_id,
      |  MIN(md5(sh)) AS fp_min, MAX(md5(sh)) AS fp_max,
      |  COUNT(DISTINCT sh) AS n_shingles
      |FROM (SELECT doc_id,
      |        t.toks[i] || ' ' || t.toks[i+1] || ' ' || t.toks[i+2] || ' ' || t.toks[i+3] || ' ' || t.toks[i+4] AS sh
      |      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
      |           LATERAL (SELECT generate_subscripts(t.toks, 1) AS i)
      |      WHERE i <= len(t.toks) - 4)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docsWithTokens(s, dir)
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(toks) >= 5 THEN transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', slice(toks, i + 1, 5))) ELSE array() END")).as("sh"))
      .groupBy(col("doc_id"))
      .agg(
        min(md5(col("sh"))).as("fp_min"),
        max(md5(col("sh"))).as("fp_max"),
        countDistinct(col("sh")).as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Regex (BPE-ish) tokenization: letter runs and digit runs counted per
    * language. Patterns kept in the RE2 ∩ Java-regex common subset. */
  val q27TokenRegex: QueryDef = sql(
    "q27_token_regex",
    """SELECT lang,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS total_regex_tokens,
      |  COUNT(*) AS n_docs
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.fanOut(Tables.documents(s, dir))
      .groupBy(col("lang"))
      .agg(
        sum(size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))).cast("long")
          .as("total_regex_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))
  }

  /** Deterministic train/val/test split (80/10/10): bucket = the first 4
    * hex chars of md5("split:"+doc_id) as an integer in [0, 65536) — a
    * pure function of the document id, so the split is reproducible
    * across runs, engines, and cluster sizes (no sampling seed, no
    * partition-order dependence), and any pipeline stage can recompute
    * membership without a join. The per-language counts verify the hash
    * is unbiased across strata. At 100 TB this is a zero-shuffle scan
    * predicate — the only way to split reproducibly without materializing
    * an assignment table. */
  val q62TrainSplit: QueryDef = sql(
    "q62_train_split",
    """SELECT lang, split, COUNT(*) AS n FROM (
      |  SELECT lang,
      |    CASE WHEN bucket < 52429 THEN 'train'
      |         WHEN bucket < 58982 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (SELECT lang,
      |          CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) AS bucket
      |        FROM documents))
      |GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS INT)"))
      .withColumn("split",
        when(col("bucket") < 52429, "train")
          .when(col("bucket") < 58982, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("split"))
  }

  /** MapType surface: per-document term-frequency MAP (map_from_entries
    * over grouped counts), filtered with the map_filter higher-order
    * function (keep terms appearing ≥ 3 times), then exploded back to
    * rows. Map entry order is engine-internal, so the contract output is
    * the exploded, sorted relation — which DuckDB reproduces relationally
    * (GROUP BY ... HAVING); the Spark side genuinely routes through
    * MapType + map HOFs. */
  val q64TermFreqMap: QueryDef = sql(
    "q64_term_freq_map",
    """SELECT doc_id, word, COUNT(*) AS cnt
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY doc_id, word
      |HAVING COUNT(*) >= 3
      |ORDER BY doc_id, word""".stripMargin) { (s, dir) =>
    val counts = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
    counts
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("cnt")))).as("tf"))
      .withColumn("tf3", expr("map_filter(tf, (k, v) -> v >= 3)"))
      .select(col("doc_id"), explode(col("tf3")).as(Seq("word", "cnt")))
      .orderBy(col("doc_id"), col("word"))
  }

  /** Deterministic stratified sampling: per-language keep-fractions
    * (down-sample the dominant `en` to 30%, keep 60% of the long-tail
    * languages) via the same md5-bucket predicate as [[q62TrainSplit]] —
    * a pure function of doc_id, so the sample is reproducible across
    * runs, engines, and cluster sizes, needs no seed or count pass, and
    * at 100 TB is a zero-shuffle scan filter (unlike `TABLESAMPLE` /
    * `df.sample`, whose partition-order-dependent RNG can't be
    * oracle-matched or recomputed per stage). This is the
    * language-rebalancing shape of a training-data pipeline. */
  val q68StratifiedSample: QueryDef = sql(
    "q68_stratified_sample",
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) AS bucket
      |  FROM documents)
      |WHERE bucket < CASE WHEN lang = 'en' THEN 19660 ELSE 39321 END
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(concat('sample:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS INT)"))
      .filter(col("bucket") < when(col("lang") === "en", 19660).otherwise(39321))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** PII redaction: regex-scrub emails and phone numbers, counting the
    * redactions per document. The fixture corpus is synthetic word salad,
    * so both engines first derive the same PII-bearing text from doc_id
    * (identical string construction), then redact — the regexes are
    * genuinely exercised and the counts are non-zero. Patterns stay in
    * the RE2 ∩ Java-regex common subset so both engines compile them
    * identically; DuckDB needs the 'g' flag to match Spark's replace-all.
    * Pure per-row work: zero shuffle at any scale. */
  val q72Redaction: QueryDef = sql(
    "q72_redaction",
    """SELECT doc_id,
      |  len(regexp_extract_all(pii, '[a-z0-9._]+@[a-z.]+[a-z]')) AS n_emails,
      |  len(regexp_extract_all(pii, '\+1-[0-9]{3}-[0-9]{4}')) AS n_phones,
      |  substr(regexp_replace(regexp_replace(pii,
      |    '[a-z0-9._]+@[a-z.]+[a-z]', '[EMAIL]', 'g'),
      |    '\+1-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'), 1, 80) AS redacted_head
      |FROM (SELECT doc_id,
      |        'contact user' || CAST(doc_id AS VARCHAR) || '@mail.example or +1-555-'
      |          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: ' || text AS pii
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val pii = concat(
      lit("contact user"), col("doc_id").cast("string"), lit("@mail.example or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" re: "), col("text"))
    val email = "[a-z0-9._]+@[a-z.]+[a-z]"
    val phone = "\\+1-[0-9]{3}-[0-9]{4}"
    Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), pii.as("pii"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("pii"), lit(email), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("pii"), lit(phone), lit(0))).cast("long").as("n_phones"),
        substring(
          regexp_replace(regexp_replace(col("pii"), email, "[EMAIL]"), phone, "[PHONE]"),
          1, 80).as("redacted_head"))
      .orderBy(col("doc_id"))
  }

  /** Context-window chunking with overlap — the canonical packing step of
    * an LLM training pipeline: token arrays split into 64-token chunks on
    * a 48-token stride (16 overlap). Chunk starts come from an arithmetic
    * `sequence`, the chunk itself from `slice` — all per-row array work
    * that explodes map-side; the only shuffle is the final ORDER BY. A
    * 100 TB corpus chunks embarrassingly parallel. */
  val q74Chunking: QueryDef = sql(
    "q74_chunking",
    """SELECT doc_id, CAST(i // 48 AS INT) AS chunk_id,
      |  CAST(least(64, len(toks) - i) AS INT) AS n_tokens,
      |  array_to_string(list_slice(toks, i + 1, i + 64), ' ') AS chunk
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
      |     LATERAL (SELECT unnest(range(0, len(toks), 48)) AS i)
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0, size(toks) - 1, 48)")).as("i"))
      .select(col("doc_id"),
        (col("i") / 48).cast("int").as("chunk_id"),
        least(lit(64), size(col("toks")) - col("i")).cast("int").as("n_tokens"),
        concat_ws(" ", expr("slice(toks, i + 1, 64)")).as("chunk"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Cross-document sequence packing — the concat-and-chunk step that
    * turns a curated corpus into fixed-length training sequences: all
    * documents are laid out contiguously in doc_id order (each followed
    * by one EOS token), and the resulting token stream is cut into
    * `contextLen`-token windows. Unlike q74 (which chunks WITHIN one
    * document), the layout is global: a document can straddle a window
    * boundary and short documents share windows — zero padding waste,
    * which is why GPT-style pretraining packs this way. Output is one
    * row per (doc, window) overlap: the window id, the doc's global
    * token offset, and how many of the doc's tokens land in that window.
    *
    * The global offset is a distributed TWO-PASS prefix sum, not a
    * corpus-wide window function — an un-partitioned window collapses
    * the whole corpus into a single task. Pass 1: range-partition by
    * doc_id, per-partition running sums (a window PARTITIONED by the
    * range bucket — distributed), plus one total per partition. Pass 2:
    * the per-partition totals (one row per partition — the bounded
    * collect class of the q114 hot-key probe) turn into exclusive
    * prefix offsets on the driver and broadcast-join back. The range
    * partitioner samples its split points, but ranges are contiguous
    * and in-partition order is total, so the computed offsets are exact
    * wherever the boundaries land — the output is bit-deterministic at
    * any partition count (PackingSpec pins 1/3/8-partition equality).
    * Window emission is then one map-side sequence/explode per doc. */
  def packSequences(docs: DataFrame, contextLen: Int = 128,
                    partitions: Int = 0, baseOffset: Long = 0L): DataFrame =
    packedStarts(docs, partitions, baseOffset)
      .withColumn("c0", expr(s"start div $contextLen"))
      .withColumn("c1", expr(s"(start + need - 1) div $contextLen"))
      .withColumn("chunk_id", explode(expr("sequence(c0, c1)")))
      .select(col("doc_id"), col("chunk_id"), col("start"),
        (least((col("chunk_id") + 1) * contextLen, col("start") + col("need")) -
          greatest(col("chunk_id") * contextLen, col("start"))).as("n_tok"))

  /** The (doc_id, need, start) global-offset relation [[packSequences]]
    * and [[q217PackingSweep]] share: need = tokens + 1 (EOS), start =
    * the exclusive prefix sum in doc_id order, computed with the
    * distributed two-pass device documented above (range partitions →
    * per-partition windows → bounded per-partition offsets broadcast
    * back; bit-deterministic at any partition count, PackingSpec). */
  def packedStarts(docs: DataFrame, partitions: Int = 0,
                   baseOffset: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    val nParts = if (partitions > 0) partitions
      else math.max(1, s.sparkContext.defaultParallelism)
    val need = docs.select(col("doc_id"),
      (size(split(col("text"), " ")) + 1).cast("long").as("need"))
    val parted = need.repartitionByRange(nParts, col("doc_id"))
      .withColumn("pid", spark_partition_id()).cachedStageBoundary
    val local = parted.withColumn("run",
      sum(col("need")).over(Window.partitionBy(col("pid")).orderBy(col("doc_id"))))
    val totals = parted.groupBy(col("pid")).agg(sum(col("need")).as("tot"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (pid, tot) => val o = (pid, acc); acc += tot; o }
    import s.implicits._
    val offDf = offsets.toSeq.toDF("pid", "poff")
    local.join(broadcast(offDf), "pid")
      .select(col("doc_id"), col("need"),
        (lit(baseOffset) + col("poff") + col("run") - col("need")).as("start"))
  }

  /** Contract face of [[packSequences]]: 128-token windows over the
    * documents table in doc_id order. The oracle states the same layout
    * as ONE window cumsum — fine at fixture scale, single-task at 100 TB;
    * the Spark side is the two-pass form and must produce identical
    * offsets. */
  val q130SequencePacking: QueryDef = sql(
    "q130_sequence_packing",
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) + 1 AS need FROM documents),
      |p AS (SELECT doc_id, need,
      |        CAST(SUM(need) OVER (ORDER BY doc_id) - need AS BIGINT) AS start FROM d),
      |x AS (SELECT doc_id, need, start, start // 128 AS c0,
      |        (start + need - 1) // 128 AS c1 FROM p)
      |SELECT doc_id, chunk_id, start,
      |  CAST(least((chunk_id + 1) * 128, start + need)
      |       - greatest(chunk_id * 128, start) AS BIGINT) AS n_tok
      |FROM x, LATERAL (SELECT unnest(range(c0, c1 + 1)) AS chunk_id)
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    packSequences(Tables.documents(s, dir))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** End-to-end curation capstone — the stages a training-data run
    * composes, in one oracle-checked query: quality scoring (q25's
    * formula) → threshold filter → exact dedup keeping the first doc per
    * content hash → inner join to the embedding table → deterministic
    * split assignment (q62's bucket). Per-stage scale properties are
    * unchanged by composition: per-row scoring, one hash shuffle for the
    * dedup window, one equi-join, a scan-predicate split — Catalyst
    * pipelines them into a handful of stages with no extra passes. The
    * float quality is computed by the identical IEEE expression in both
    * engines, so even the threshold comparison is deterministic. */
  val q79CurationPipeline: QueryDef = sql(
    "q79_curation_pipeline",
    """WITH q AS (SELECT doc_id, lang, text,
      |  (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |    * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |    * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) AS quality
      |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents)),
      |f AS (SELECT * FROM q WHERE quality > 0.3),
      |d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f)
      |SELECT d.doc_id, d.lang, e.label, d.quality,
      |  CASE WHEN CAST(('0x' || substr(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INT) < 52429
      |       THEN 'train'
      |       WHEN CAST(('0x' || substr(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INT) < 58982
      |       THEN 'val' ELSE 'test' END AS split
      |FROM d JOIN embeddings e ON e.vec_id = d.doc_id
      |WHERE d.rn = 1
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val scored = docsWithTokens(s, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", expr("size(filter(toks, x -> x = 'the' OR x = 'a'))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .withColumn("quality",
        (col("n_uniq").cast("double") / col("n_tokens")) *
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
          least(lit(1.0), col("n_tokens").cast("double") / 50.0))
      .filter(col("quality") > 0.3)
    val deduped = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    deduped.join(emb, col("vec_id") === col("doc_id"))
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS INT)"))
      .withColumn("split",
        when(col("bucket") < 52429, "train")
          .when(col("bucket") < 58982, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("lang"), col("label"), col("quality"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Trigram frequency through the custom [[graft.functions.NGrams]]
    * Generator (the Scala UDTF ladder step): rows stream out of
    * GenerateExec without materializing a per-document n-gram array, then
    * hash-aggregate + top-k as usual. Hash-verified against the purely
    * relational DuckDB formulation, so the custom generator's output is
    * itself oracle-checked (the q45/q63 pattern, applied to a UDTF). */
  val q80TrigramGenerator: QueryDef = sql(
    "q80_trigram_generator",
    """SELECT ngram, COUNT(*) AS cnt FROM (
      |  SELECT t.toks[i] || ' ' || t.toks[i+1] || ' ' || t.toks[i+2] AS ngram
      |  FROM (SELECT string_split(text, ' ') AS toks FROM documents) t,
      |       LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i))
      |GROUP BY ngram
      |ORDER BY cnt DESC, ngram
      |LIMIT 15""".stripMargin) { (s, dir) =>
    graft.functions.NGrams.register(s)
    Tables.fanOut(Tables.documents(s, dir))
      .selectExpr("ngrams(text, 3) AS ngram")
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(15)
  }

  /** TF-IDF top-5 terms per document — the classic text-relevance score
    * (tf · ln(N/df)) as two hash aggregates plus one equi-join on `word`:
    * tf is a (doc_id, word) count, df a distinct-doc count per word, and
    * N a 1-row broadcast. No all-pairs anything; at 100 TB both aggregates
    * are map-side-partial shuffles on bounded keys and the tf⋈df join
    * shuffles on `word` (or broadcasts df when the vocabulary is small).
    * Top-k per doc is rank-within-partition → WindowGroupLimit pushes the
    * k=5 cut below the shuffle.
    *
    * Float determinism: JVM `Math.log` and libm `log` differ by 1 ulp on
    * ~0.1% of inputs (measured), so the emitted score is rounded to 6
    * decimals — both engines then compute double(k/10⁶) exactly — and the
    * RANKING compares raw scores, where a 1-ulp flip would need two
    * distinct (tf, df) pairs within 1e-16 relative of each other; exact
    * ties (equal tf and df) break on `word`. */
  val q99Tfidf: QueryDef = sql(
    "q99_tfidf",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (SELECT t.doc_id, t.word, t.tf, d.df,
      |             t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df) AS raw,
      |             ROW_NUMBER() OVER (PARTITION BY t.doc_id
      |               ORDER BY t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df) DESC, t.word) AS rn
      |           FROM tf t JOIN df d USING (word) CROSS JOIN n)
      |SELECT doc_id, rn, word, tf, df, ROUND(raw, 6) AS tf_idf
      |FROM scored WHERE rn <= 5
      |ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = toks.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = toks.distinct().groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val raw = col("tf") * log(col("n_docs").cast("double") / col("df"))
    tf.join(df, "word").crossJoin(n)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(raw.desc, col("word"))))
      .filter(col("rn") <= 5)
      .select(col("doc_id"), col("rn"), col("word"), col("tf"), col("df"),
        round(raw, 6).as("tf_idf"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** The inverted-index relations the BM25 retrieval family reads: term
    * postings (doc_id, word, tf), doc lengths (doc_id, dl) and doc
    * frequencies (word, df) — built ONCE per corpus version and
    * persisted ([[graft.sources.StateStore]], keyed by the corpus
    * content), which is precisely what a production
    * retriever does: materialize the index at ingest, serve queries
    * from it. Every query-time run costs three parquet scans instead of
    * a corpus re-tokenization; a changed corpus changes the fingerprint
    * and rebuilds. */
  private[graft] def postingsIndex(s: SparkSession, docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val key = StateStore.key("postings_v1", docs.select(col("doc_id"), col("text")))
    var handle: Option[DataFrame] = None
    val Seq(tf, dl, df) = StateStore.parquet(s, key, "tf", "dl", "df") {
      val toks = Tables.fanOut(docs)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word")).cachedStageBoundary
      handle = Some(toks)
      Seq(
        toks.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf")),
        toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")),
        toks.distinct().groupBy(col("word")).agg(count(lit(1)).as("df")))
    }
    handle.foreach(_.unpersist())
    (tf, dl, df)
  }

  /** Incremental maintenance of the q136 postings shape: merge a batch
    * of NEWLY ARRIVED documents into existing (tf, dl, df) relations.
    * Already-indexed doc_ids are anti-joined out first, so re-delivered
    * batches are absorbed idempotently (the q108/q162 replay
    * discipline). tf and dl rows of fresh docs are disjoint from the
    * existing relations — pure appends; df merges by word (the
    * vocabulary relation is orders of magnitude smaller than the
    * postings, so the per-batch rewrite is the cheap part — Lucene's
    * segment-merge does the same consolidation). Spec-proved equal to
    * a from-scratch build over the union corpus, including under
    * replay. */
  def extendPostings(tf: DataFrame, dl: DataFrame, df: DataFrame,
                     batch: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (t, d, f, _) = extendPostingsWithHandle(tf, dl, df, batch)
    (t, d, f)
  }

  /** [[extendPostings]] plus the persisted batch-token handle, so
    * long-running callers (the streaming ingest loop) can unpersist it
    * after materializing the merged relations — the [[postingsIndex]]
    * handle discipline; without it each trigger would pin one more
    * cached RDD forever. */
  private[graft] def extendPostingsWithHandle(tf: DataFrame, dl: DataFrame, df: DataFrame,
      batch: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val fresh = batch.join(dl.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val toks = fresh.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .cachedStageBoundary
    val btf = toks.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val bdl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val bdf = toks.distinct().groupBy(col("word")).agg(count(lit(1)).as("df"))
    val mergedDf = df.unionByName(bdf)
      .groupBy(col("word")).agg(sum(col("df")).as("df"))
    (tf.unionByName(btf), dl.unionByName(bdl), mergedDf, toks)
  }

  /** Shared BM25 oracle prefix — postings (tf/dl/df), corpus stats, and
    * the query-term relation (`qt`, doc_id % 100 = 0). One definition
    * for the whole retrieval family (q136/q137/q172/q187), so a k1/b or
    * idf tweak cannot silently desynchronize their oracles. */
  private lazy val bm25PrefixSql =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
      |qt AS (SELECT DISTINCT doc_id AS query_id, word FROM toks WHERE doc_id % 100 = 0)""".stripMargin

  /** One BM25 scoring pass over query-term CTE `qtCte` →
    * (query_id, doc_id, raw). */
  private def bm25ScoreSql(qtCte: String): String =
    s"""SELECT q.query_id, t.doc_id,
       |    SUM(LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
       |        * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))) AS raw
       |  FROM $qtCte q
       |  JOIN tf t ON t.word = q.word AND t.doc_id <> q.query_id
       |  JOIN df d ON d.word = q.word
       |  JOIN dl l ON l.doc_id = t.doc_id, stats s
       |  GROUP BY 1, 2""".stripMargin

  /** BM25 retrieval (Robertson & Zaragoza 2009, the Okapi/Lucene scoring
    * with k1 = 1.2, b = 0.75 and the smooth idf ln(1 + (N−df+0.5)/(df+0.5)))
    * — the lexical retriever a RAG pipeline pairs with the ANN family
    * (q38/q120): every query doc (`doc_id % 100 = 0`) retrieves its
    * top-10 corpus docs by summed term scores. q99's float discipline:
    * scores are doubles built from exact integers (tf, df, dl) by the
    * IDENTICAL expression in both engines, emitted rounded to 6 dp,
    * RANKED on raw (adjacent order statistics sit far above ulp noise;
    * exact ties break on doc_id).
    *
    * Scale posture: the postings build (doc, word, tf) is the one
    * corpus pass — map-side-combined hash agg, the inverted-index shape
    * a 100 TB retriever materializes once and reuses; df rides the same
    * pass; query terms are the bounded side and BROADCAST into the
    * postings join, so shuffle volume is matching postings only; per-
    * query top-k is the WindowGroupLimit-pushed window. avgdl and N are
    * scalar broadcasts. */
  val q136Bm25: QueryDef = sql(
    "q136_bm25",
    s"""WITH $bm25PrefixSql,
      |scored AS (
      |${bm25ScoreSql("qt")}),
      |ranked AS (SELECT query_id, doc_id, raw,
      |             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |               ORDER BY raw DESC, doc_id) AS INT) AS rnk
      |           FROM scored)
      |SELECT query_id, doc_id, rnk, ROUND(raw, 6) AS bm25
      |FROM ranked WHERE rnk <= 10
      |ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val (tf, dl, df) = postingsIndex(s, Tables.documents(s, dir))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    // a query doc's distinct terms ARE its postings rows — read them
    // off the index, no re-tokenization
    val qt = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("word"))
    val term = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val scored = broadcast(qt)
      .join(tf, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(term).as("raw"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("rnk"),
        round(col("raw"), 6).as("bm25"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.,
    * SIGIR'09): fuse the LEXICAL ranking (q136's BM25) with the
    * SEMANTIC ranking (exact cosine over the embedding table, q38's
    * metric) as Σ 1/(60 + rank) — the standard RAG-stack combiner,
    * robust to the two scorers' incomparable scales precisely because
    * it only consumes RANKS. Ranks are exact integers (each leg's
    * float discipline already proven by q136/q38), so the fused score
    * is a sum of exact rationals evaluated by the identical IEEE
    * expression in both engines; ties break (fused desc, doc_id).
    *
    * Scale posture = the union of its legs (postings join broadcast
    * query terms; cosine leg broadcasts the query embeddings); fusion
    * itself is a (query, doc)-keyed outer merge of two k-row-per-query
    * relations — dimension-sized after the legs' own top-k cuts. */
  val q137RrfFusion: QueryDef = sql(
    "q137_rrf_fusion",
    s"""WITH $bm25PrefixSql,
      |bscore AS (
      |${bm25ScoreSql("qt")}),
      |brank AS (SELECT query_id, doc_id,
      |            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, doc_id) AS lex_rank
      |          FROM bscore),
      |n AS (SELECT vec_id, embedding,
      |        SQRT(list_reduce(list_transform(range(len(embedding)), i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)), (x, y) -> x + y)) AS nrm
      |      FROM embeddings),
      |qe AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
      |sscore AS (SELECT q.query_id, n.vec_id AS doc_id,
      |             list_reduce(list_transform(range(len(n.embedding)), i -> CAST(n.embedding[i+1] AS DOUBLE) * CAST(q.qv[i+1] AS DOUBLE)), (x, y) -> x + y) / (n.nrm * q.qn) AS cosine
      |           FROM n JOIN qe q ON n.vec_id <> q.query_id),
      |srank AS (SELECT query_id, doc_id,
      |            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS sem_rank
      |          FROM sscore),
      |legs AS (SELECT COALESCE(b.query_id, s.query_id) AS query_id,
      |           COALESCE(b.doc_id, s.doc_id) AS doc_id, b.lex_rank, s.sem_rank
      |         FROM (SELECT * FROM brank WHERE lex_rank <= 20) b
      |         FULL OUTER JOIN (SELECT * FROM srank WHERE sem_rank <= 20) s
      |           ON s.query_id = b.query_id AND s.doc_id = b.doc_id),
      |fused AS (SELECT query_id, doc_id,
      |            CAST(COALESCE(lex_rank, 0) AS INT) AS lex_rank,
      |            CAST(COALESCE(sem_rank, 0) AS INT) AS sem_rank,
      |            COALESCE(1.0 / (60 + lex_rank), 0.0) + COALESCE(1.0 / (60 + sem_rank), 0.0) AS raw
      |          FROM legs),
      |out AS (SELECT query_id, doc_id, lex_rank, sem_rank, raw,
      |          CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, doc_id) AS INT) AS rnk
      |        FROM fused)
      |SELECT query_id, doc_id, rnk, lex_rank, sem_rank, ROUND(raw, 6) AS rrf
      |FROM out WHERE rnk <= 10
      |ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSimilarity.register(s)
    val (tf, dl, df) = postingsIndex(s, Tables.documents(s, dir))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("word"))
    val term = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val brank = broadcast(qt).join(tf, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id")).agg(sum(term).as("raw"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("lex_rank") <= 20).select(col("query_id"), col("doc_id"), col("lex_rank"))
    val emb = Tables.embeddings(s, dir)
    val qe = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val srank = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(qe))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("cosine", expr("cosine_sim_native(embedding, qv)"))
      .withColumn("sem_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("doc_id"))))
      .filter(col("sem_rank") <= 20).select(col("query_id"), col("doc_id"), col("sem_rank"))
    val fusedRaw = coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0))
    brank.join(srank, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("raw", fusedRaw)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("rnk"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).as("sem_rank"),
        round(col("raw"), 6).as("rrf"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Retrieval-quality evaluation — recall@10 and MRR of the LEXICAL
    * retriever (q136's BM25 run) judged against the SEMANTIC ground
    * truth (exact-cosine top-10, q38's metric): the offline eval loop
    * every RAG stack runs before swapping retrievers. Both metrics are
    * EXACT INTEGERS over ranks that are themselves exact in both
    * engines (each leg's float discipline proven by q136/q137):
    * recall_micro = hits·10⁶/10 and rr_micro = floor(10⁶/first_rel) —
    * no transcendental DCG logs to diverge cross-engine; nDCG's
    * *ordering* information is already carried by MRR here because
    * ground-truth relevance is binary.
    *
    * Scale posture: each leg keeps its own shape (broadcast query
    * terms into the postings join; broadcast query vectors into the
    * embedding scan, WindowGroupLimit-pushed top-k); the judgment
    * itself is an equi-join of two 10-row-per-query relations —
    * dimension-sized after the legs' cuts, trivially shuffled on
    * query_id. At 100 TB the eval cost IS the legs' cost. */
  val q172RetrievalMetrics: QueryDef = sql(
    "q172_retrieval_metrics",
    s"""WITH $bm25PrefixSql,
      |bscore AS (
      |${bm25ScoreSql("qt")}),
      |run AS (SELECT query_id, doc_id, lex_rank FROM (
      |          SELECT query_id, doc_id,
      |            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, doc_id) AS lex_rank
      |          FROM bscore) WHERE lex_rank <= 10),
      |n AS (SELECT vec_id, embedding,
      |        SQRT(list_reduce(list_transform(range(len(embedding)), i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)), (x, y) -> x + y)) AS nrm
      |      FROM embeddings),
      |qe AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
      |sscore AS (SELECT q.query_id, n.vec_id AS doc_id,
      |             list_reduce(list_transform(range(len(n.embedding)), i -> CAST(n.embedding[i+1] AS DOUBLE) * CAST(q.qv[i+1] AS DOUBLE)), (x, y) -> x + y) / (n.nrm * q.qn) AS cosine
      |           FROM n JOIN qe q ON n.vec_id <> q.query_id),
      |truth AS (SELECT query_id, doc_id FROM (
      |            SELECT query_id, doc_id,
      |              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS sem_rank
      |            FROM sscore) WHERE sem_rank <= 10),
      |hit AS (SELECT r.query_id, COUNT(*) AS hits, MIN(r.lex_rank) AS first_rel
      |        FROM run r JOIN truth t ON t.query_id = r.query_id AND t.doc_id = r.doc_id
      |        GROUP BY 1),
      |base AS (SELECT DISTINCT query_id FROM run)
      |SELECT b.query_id,
      |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
      |  CAST(COALESCE(h.hits, 0) * 100000 AS BIGINT) AS recall_micro,
      |  CAST(COALESCE(1000000 // h.first_rel, 0) AS BIGINT) AS rr_micro
      |FROM base b LEFT JOIN hit h USING (query_id)
      |ORDER BY b.query_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSimilarity.register(s)
    val (tf, dl, df) = postingsIndex(s, Tables.documents(s, dir))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("word"))
    val term = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val run = broadcast(qt).join(tf, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id")).agg(sum(term).as("raw"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("lex_rank") <= 10)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val emb = Tables.embeddings(s, dir)
    val qe = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val truth = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(qe))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("cosine", expr("cosine_sim_native(embedding, qv)"))
      .withColumn("sem_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("doc_id"))))
      .filter(col("sem_rank") <= 10)
      .select(col("query_id"), col("doc_id"))
    val hit = run.join(truth, Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("h"), min(col("lex_rank")).as("first_rel"))
    run.select(col("query_id")).distinct()
      .join(hit, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("h"), lit(0L)).cast("long").as("hits"),
        (coalesce(col("h"), lit(0L)) * 100000L).cast("long").as("recall_micro"),
        coalesce(expr("1000000L DIV first_rel"), lit(0L)).cast("long").as("rr_micro"))
      .orderBy(col("query_id"))
  }

  /** Phrase search over POSITIONAL postings — the retrieval capability
    * the bag-of-words BM25 leg (q136) cannot express: "these words,
    * adjacent, in this order". The index adds a position column to the
    * q136 postings shape ((doc, word, pos) via posexplode — what
    * Lucene stores as position-augmented postings lists); a phrase
    * matches where the w1 and w2 posting rows of one document sit at
    * consecutive positions. Queries are the corpus's own top-5 bigrams
    * (deterministic count/lexical cut), so the whole query set is
    * data-derived and tiny.
    *
    * Scale posture: the phrase relation BROADCASTS into the postings
    * scan, so only postings of the ≤10 phrase words survive to the
    * adjacency self-join — the join never sees the full postings
    * relation, and its key (doc_id, pos) is maximally selective. At
    * 100 TB this is the standard two-term intersection cost of an
    * inverted index, proportional to the matched terms' posting lists,
    * never the corpus. */
  /** The position-augmented postings relation (doc_id, word, pos) q175
    * serves from — like [[postingsIndex]], built ONCE per corpus version
    * and persisted ([[graft.sources.StateStore]], content
    * keyed): what Lucene stores when positions are enabled. Phrase
    * queries probe the persisted index instead of re-tokenizing the
    * corpus (first build pays one scan + write; every later phrase
    * query costs index scans only). */
  private[graft] def positionalIndex(s: SparkSession, docs: DataFrame): DataFrame = {
    val key = StateStore.key("positional_v1", docs.select(col("doc_id"), col("text")))
    StateStore.parquet(s, key, "pos") {
      Seq(Tables.fanOut(docs)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word"))))
    }.head
  }

  val q175PhraseSearch: QueryDef = sql(
    "q175_phrase_search",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
      |        FROM tk, LATERAL (SELECT generate_subscripts(toks, 1) AS i)),
      |big AS (SELECT t.toks[i] || ' ' || t.toks[i + 1] AS phrase, COUNT(*) AS n
      |        FROM tk t, LATERAL (SELECT generate_subscripts(t.toks, 1) AS i)
      |        WHERE i <= len(t.toks) - 1
      |        GROUP BY 1 ORDER BY n DESC, phrase LIMIT 5),
      |ph AS (SELECT phrase, string_split(phrase, ' ')[1] AS w1,
      |              string_split(phrase, ' ')[2] AS w2 FROM big),
      |occ AS (SELECT ph.phrase, p1.doc_id, COUNT(*) AS n_occ
      |        FROM ph
      |        JOIN pos p1 ON p1.word = ph.w1
      |        JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
      |                   AND p2.word = ph.w2
      |        GROUP BY 1, 2),
      |out AS (SELECT phrase, doc_id, n_occ,
      |          CAST(ROW_NUMBER() OVER (PARTITION BY phrase
      |            ORDER BY n_occ DESC, doc_id) AS INT) AS rnk
      |        FROM occ)
      |SELECT phrase, doc_id, rnk, n_occ
      |FROM out WHERE rnk <= 10
      |ORDER BY phrase, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(s, dir))
    // serve from the persisted positional index (one corpus pass at
    // build; phrase queries afterwards read the index, and BOTH
    // adjacency sides derive from ONE filtered probe of it — the first
    // cut rebuilt the postings per side, 3 corpus passes total,
    // measured 14.2 s at the 10× smoke)
    val pos = positionalIndex(s, Tables.documents(s, dir))
    val phrases = docs
      .select(explode(expr(
        "CASE WHEN size(split(text, ' ')) >= 2 THEN transform(sequence(0, size(split(text, ' ')) - 2), i -> concat(split(text, ' ')[i], ' ', split(text, ' ')[i + 1])) ELSE array() END")).as("phrase"))
      .groupBy(col("phrase")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("phrase")).limit(5)
      .select(col("phrase"),
        split(col("phrase"), " ").getItem(0).as("w1"),
        split(col("phrase"), " ").getItem(1).as("w2"))
    val roles = phrases.select(col("phrase"), col("w1").as("word"), lit(1).as("role"))
      .union(phrases.select(col("phrase"), col("w2").as("word"), lit(2).as("role")))
    val hits = pos.join(broadcast(roles), "word")
      .select(col("phrase"), col("role"), col("doc_id"), col("pos")).cachedStageBoundary
    val p1 = hits.filter(col("role") === 1).select(col("phrase"), col("doc_id"), col("pos"))
    val p2 = hits.filter(col("role") === 2)
      .select(col("phrase"), col("doc_id"), col("pos").as("pos2"))
    p1.join(p2, Seq("phrase", "doc_id"))
      .filter(col("pos2") === col("pos") + 1)
      .groupBy(col("phrase"), col("doc_id")).agg(count(lit(1)).as("n_occ"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("phrase")).orderBy(col("n_occ").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("phrase"), col("doc_id"), col("rnk"), col("n_occ"))
      .orderBy(col("phrase"), col("rnk"))
  }

  /** Proximity (slop) search — the `"w1 w2"~k` operator that sits
    * between q175's exact-adjacency phrases and q136's bag-of-words
    * (Lucene's SpanNearQuery; the retrieval middle ground RAG stacks
    * actually serve): for the corpus's own top-5 bigrams, how many
    * documents still match when the two words may sit up to `slop`
    * positions apart in order — plus the summed per-doc MINIMUM gap,
    * which pins every matched document's tightest occurrence, not just
    * the match count. Same persisted positional index as q175 (build
    * once, both faces read it); the pair join sees only postings of
    * the ≤10 phrase words (broadcast roles), and the per-doc pair
    * volume is tf(w1)·tf(w2) — the documented in-document quadratic
    * every positional engine pays, bounded by document length. The
    * slop grid is a 3-row broadcast. */
  val q359SlopSearch: QueryDef = sql(
    "q359_slop_search",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
      |        FROM tk, LATERAL (SELECT generate_subscripts(toks, 1) AS i)),
      |big AS (SELECT t.toks[i] || ' ' || t.toks[i + 1] AS phrase, COUNT(*) AS n
      |        FROM tk t, LATERAL (SELECT generate_subscripts(t.toks, 1) AS i)
      |        WHERE i <= len(t.toks) - 1
      |        GROUP BY 1 ORDER BY n DESC, phrase LIMIT 5),
      |ph AS (SELECT phrase, string_split(phrase, ' ')[1] AS w1,
      |              string_split(phrase, ' ')[2] AS w2 FROM big),
      |gp AS (SELECT ph.phrase, p1.doc_id, MIN(p2.pos - p1.pos) AS min_gap
      |       FROM ph
      |       JOIN pos p1 ON p1.word = ph.w1
      |       JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.word = ph.w2
      |                  AND p2.pos > p1.pos
      |       GROUP BY 1, 2),
      |sl AS (SELECT unnest([1, 3, 6]) AS slop)
      |SELECT gp.phrase, CAST(sl.slop AS BIGINT) AS slop,
      |  CAST(COALESCE(SUM(CASE WHEN gp.min_gap <= sl.slop THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs,
      |  CAST(COALESCE(SUM(CASE WHEN gp.min_gap <= sl.slop THEN gp.min_gap ELSE 0 END), 0) AS BIGINT) AS sum_min_gap
      |FROM gp, sl
      |GROUP BY 1, 2
      |ORDER BY phrase, slop""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val pos = positionalIndex(s, Tables.documents(s, dir))
    val phrases = docs
      .select(explode(expr(
        "CASE WHEN size(split(text, ' ')) >= 2 THEN transform(sequence(0, size(split(text, ' ')) - 2), i -> concat(split(text, ' ')[i], ' ', split(text, ' ')[i + 1])) ELSE array() END")).as("phrase"))
      .groupBy(col("phrase")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("phrase")).limit(5)
      .select(col("phrase"),
        split(col("phrase"), " ").getItem(0).as("w1"),
        split(col("phrase"), " ").getItem(1).as("w2"))
    val roles = phrases.select(col("phrase"), col("w1").as("word"), lit(1).as("role"))
      .union(phrases.select(col("phrase"), col("w2").as("word"), lit(2).as("role")))
    val hits = pos.join(broadcast(roles), "word")
      .select(col("phrase"), col("role"), col("doc_id"), col("pos")).cachedStageBoundary
    val p1 = hits.filter(col("role") === 1).select(col("phrase"), col("doc_id"), col("pos"))
    val p2 = hits.filter(col("role") === 2)
      .select(col("phrase"), col("doc_id"), col("pos").as("pos2"))
    val gp = p1.join(p2, Seq("phrase", "doc_id"))
      .filter(col("pos2") > col("pos"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(min(col("pos2") - col("pos")).as("min_gap"))
    import s.implicits._
    val slops = Seq(1L, 3L, 6L).toDF("slop")
    gp.crossJoin(broadcast(slops))
      .groupBy(col("phrase"), col("slop"))
      .agg(coalesce(sum(when(col("min_gap") <= col("slop"), 1L).otherwise(0L)), lit(0L))
          .as("n_docs"),
        coalesce(sum(when(col("min_gap") <= col("slop"), col("min_gap")).otherwise(0L)),
          lit(0L)).as("sum_min_gap"))
      .orderBy(col("phrase"), col("slop"))
  }

  /** Quality-signal agreement — Spearman rank correlation between two
    * independent curation signals, per language: the cheap heuristic
    * quality score (q25's ratio product) and the n-gram LM negative
    * log-likelihood (q128's CCNet-style model signal). The question
    * every filter-stack owner asks before spending model inference on
    * the whole corpus: does the cheap signal ORDER documents the same
    * way the expensive one does? Ranks are total orders (deterministic
    * doc_id tie-break; NLL ranked ascending = best-first, so positive
    * ρ means agreement), which keeps Spearman's ρ = 1 − 6Σd²/(n(n²−1))
    * an EXACT RATIONAL of integers. rho_micro evaluates as
    * floor((1 − 6Σd²/(n(n²−1)))·10⁶) with the ratio and the n(n²−1)
    * product in DOUBLE — overflow-free at any n (the integer product
    * formulation hit 2⁶³ at the 30× smoke's 30k docs/lang, exactly
    * the boundary the first draft documented), and deterministic
    * cross-engine because both evaluate the identical IEEE expression
    * over the exact integer inputs (Σd² itself stays an exact BIGINT
    * to ~2M rows/group).
    *
    * Scale posture: the two signal scans are the operator's cost (the
    * LM scoring already broadcasts its count relations); the ranks are
    * one lang-keyed window pass each, and the correlation is a
    * lang-keyed aggregate of integer differences. */
  val q181SignalAgreement: QueryDef = sql(
    "q181_signal_agreement",
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |qual AS (SELECT doc_id, lang,
      |    (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |      * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |      * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) AS quality
      |  FROM t),
      |$lmNllSql,
      |nll AS (SELECT doc_id, round(rawnll, 6) AS avg_nll FROM nllagg),
      |ranked AS (
      |  SELECT q.lang,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.lang ORDER BY q.quality DESC, q.doc_id) AS BIGINT) AS r1,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.lang ORDER BY n.avg_nll, q.doc_id) AS BIGINT) AS r2
      |  FROM qual q JOIN nll n ON n.doc_id = q.doc_id),
      |agg AS (SELECT lang, COUNT(*) AS n,
      |          CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2
      |        FROM ranked GROUP BY 1)
      |SELECT lang, n, sum_d2,
      |  CASE WHEN n < 2 THEN CAST(0 AS BIGINT)
      |       ELSE CAST(FLOOR((1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
      |           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)))
      |         * 1000000.0) AS BIGINT)
      |  END AS rho_micro
      |FROM agg
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val qual = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("lang"),
        ((size(array_distinct(col("toks"))).cast("double") / size(col("toks"))) *
          (lit(1.0) - expr("size(filter(toks, x -> x = 'the' OR x = 'a'))").cast("double") /
            size(col("toks"))) *
          least(lit(1.0), size(col("toks")).cast("double") / 50.0)).as("quality"))
    val nll = lmPerplexity(docs, docs.filter(col("lang") === "en"))
      .select(col("doc_id"), col("avg_nll"))
    // per-language ranks via the GROUPED block device: a `PARTITION BY
    // lang` window is still one task per language — corpus/5 rows each
    // at this fixture's alphabet — so the heavy windows partition by
    // (lang, block) instead; floor(value·2²⁰) is the monotone block key
    // and the exact value + doc_id break intra-block ties
    val joined = qual.join(nll, "doc_id")
    val withR1 = BlockRank.groupedRowNumber(joined, Seq("lang"),
      floor(col("quality") * 1048576).cast("long"), blkAsc = false,
      Seq(col("quality").desc, col("doc_id").asc), "r1")
    val ranked = BlockRank.groupedRowNumber(withR1, Seq("lang"),
      floor(col("avg_nll") * 1048576).cast("long"), blkAsc = true,
      Seq(col("avg_nll").asc, col("doc_id").asc), "r2")
    ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum((col("r1") - col("r2")) * (col("r1") - col("r2"))).as("sum_d2"))
      // negative ρ: floor via an identical double expression in both
      // engines (integer // floors in DuckDB but DIV truncates in Spark,
      // so they'd disagree below zero); the n(n²−1) product stays in
      // DOUBLE so large groups can't overflow 2⁶³
      .withColumn("rho_micro", expr(
        "CASE WHEN n < 2 THEN 0L ELSE CAST(FLOOR((1.0D - 6.0D * CAST(sum_d2 AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0D))) * 1000000.0D) AS BIGINT) END"))
      .select(col("lang"), col("n"), col("sum_d2"), col("rho_micro"))
      .orderBy(col("lang"))
  }

  /** Distributional word similarity — count-based word vectors (the
    * PPMI/word-space family: Turney & Pantel 2010, JAIR 37): each of the
    * top-100 corpus words gets a vector of association LIFTS against the
    * same vocabulary (doc-level co-occurrence), and the top-20 most
    * similar word pairs by cosine are emitted. Lift stays an EXACT
    * INTEGER (milli-units: floor(10³·n(w,c)·n_docs / (n(w)·n(c))), the
    * q155 PMI-without-ln device), so the cosine NUMERATOR Σ lift_w,c ·
    * lift_v,c is an exact integer sum — aggregation-order-independent —
    * and only the final norm division is floating point, computed by the
    * identical expression both engines (emitted rounded, ranked on raw,
    * the q99 discipline).
    *
    * Scale posture: vocabulary and its count relations are top-k
    * bounded (100 rows) and BROADCAST; per-doc co-occurrence pairs are
    * (doc's vocab hits)², aggregated map-side onto ≤ vocab² keys; the
    * pair cosine is a vocab²-bounded join-agg on the context key. The
    * corpus contributes exactly two token scans. */
  val q185WordSimilarity: QueryDef = sql(
    "q185_word_similarity",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |vocab AS (SELECT word, COUNT(*) AS wc FROM toks GROUP BY 1
      |          ORDER BY wc DESC, word LIMIT 100),
      |hits AS (SELECT DISTINCT t.doc_id, t.word FROM toks t JOIN vocab v ON v.word = t.word),
      |nw AS (SELECT word, COUNT(*) AS n FROM hits GROUP BY 1),
      |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      |co AS (SELECT a.word AS w, b.word AS c, COUNT(*) AS nwc
      |       FROM hits a JOIN hits b ON b.doc_id = a.doc_id AND b.word <> a.word
      |       GROUP BY 1, 2),
      |lift AS (SELECT co.w, co.c,
      |           CAST(co.nwc * 1000 * nd.n_docs // (na.n * nc.n) AS BIGINT) AS l
      |         FROM co
      |         JOIN nw na ON na.word = co.w
      |         JOIN nw nc ON nc.word = co.c, nd),
      |nrm AS (SELECT w, CAST(SUM(l * l) AS BIGINT) AS n2 FROM lift GROUP BY 1),
      |num AS (SELECT a.w AS wa, b.w AS wb, CAST(SUM(a.l * b.l) AS BIGINT) AS dot
      |        FROM lift a JOIN lift b ON b.c = a.c AND a.w < b.w
      |        GROUP BY 1, 2),
      |cosd AS (SELECT n.wa, n.wb, n.dot,
      |           CAST(n.dot AS DOUBLE) / (SQRT(CAST(x.n2 AS DOUBLE)) * SQRT(CAST(y.n2 AS DOUBLE))) AS raw
      |         FROM num n JOIN nrm x ON x.w = n.wa JOIN nrm y ON y.w = n.wb
      |         WHERE x.n2 > 0 AND y.n2 > 0)
      |SELECT wa, wb, dot, ROUND(raw, 6) AS cosine
      |FROM cosd
      |ORDER BY raw DESC, wa, wb
      |LIMIT 20""".stripMargin) { (s, dir) =>
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val vocab = toks.groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .orderBy(col("wc").desc, col("word")).limit(100)
    // eager localCheckpoints, not persists (r10): hits feeds nw + both
    // co-occurrence self-join sides and lift feeds the norm + both
    // numerator sides — as persists, the parallel stages of the one
    // consuming job raced to materialize the cache and re-embedded the
    // lineage per reference (39-scan plan); the checkpoint computes each
    // exactly once
    val hits = toks.join(broadcast(vocab.select(col("word"))), "word").distinct()
      .stageBoundary
    val nw = hits.groupBy(col("word")).agg(count(lit(1)).as("n"))
    val nd = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val co = hits.select(col("doc_id"), col("word").as("w"))
      .join(hits.select(col("doc_id"), col("word").as("c")), "doc_id")
      .filter(col("w") =!= col("c"))
      .groupBy(col("w"), col("c")).agg(count(lit(1)).as("nwc"))
    val lift = co
      .join(broadcast(nw.select(col("word").as("w"), col("n").as("na"))), "w")
      .join(broadcast(nw.select(col("word").as("c"), col("n").as("nc"))), "c")
      .crossJoin(broadcast(nd))
      .select(col("w"), col("c"), expr("nwc * 1000L * n_docs DIV (na * nc)").as("l"))
      .stageBoundary // vocab²-bounded; norm + both numerator sides
    val nrm = lift.groupBy(col("w")).agg(sum(col("l") * col("l")).as("n2"))
    val num = lift.select(col("w").as("wa"), col("c"), col("l").as("la"))
      .join(lift.select(col("w").as("wb"), col("c"), col("l").as("lb")), "c")
      .filter(col("wa") < col("wb"))
      .groupBy(col("wa"), col("wb")).agg(sum(col("la") * col("lb")).as("dot"))
    val raw = col("dot").cast("double") /
      (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))
    num
      .join(nrm.select(col("w").as("wa"), col("n2").as("na2")), "wa")
      .join(nrm.select(col("w").as("wb"), col("n2").as("nb2")), "wb")
      .filter(col("na2") > 0 && col("nb2") > 0)
      .select(col("wa"), col("wb"), col("dot"), col("na2"), col("nb2"))
      .withColumn("raw", raw)
      .orderBy(col("raw").desc, col("wa"), col("wb"))
      .limit(20)
      .select(col("wa"), col("wb"), col("dot"), round(col("raw"), 6).as("cosine"))
  }

  /** Bootstrap confidence intervals (Efron 1979) for per-source mean
    * quality — the error bars a corpus datasheet (q149) should carry
    * before anyone compares sources on a point estimate: B = 50
    * resamples-with-replacement of each source's m-doc sample, the
    * 2.5%/97.5% resample-mean order statistics as the interval. Every
    * "random" draw is the md5-fraction device (pick k of resample r =
    * md5('boot:r:k') mod m), so the whole Monte-Carlo procedure is a
    * pure function of the data — reproducible, engine-identical,
    * hash-verified. The metric is the exact-integer lexical-diversity
    * micro score (q142's), so resample means are floor-divided integer
    * sums, and the order statistics are exact.
    *
    * Scale posture: the classic m-out-of-n bootstrap (Bickel & Sakov
    * 2008) — each source contributes a deterministic m ≤ 200 doc
    * sample (first m by doc_id), so the resample grid is
    * sources·B·m rows of METADATA regardless of corpus size; the
    * corpus pays one scoring scan + one rank window. */
  val q186BootstrapCi: QueryDef = sql(
    "q186_bootstrap_ci",
    """WITH sc AS (
      |  SELECT doc_id, source,
      |    CAST(FLOOR(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      * 1000000.0 / len(string_split(text, ' '))) AS BIGINT) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |samp AS (SELECT source, rn, score FROM sc WHERE rn <= 200),
      |m AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS m FROM samp GROUP BY source),
      |grid AS (
      |  SELECT m.source, r.r, k.k,
      |    1 + CAST(('0x' || substr(md5('boot:' || CAST(r.r AS VARCHAR) || ':'
      |          || CAST(k.k AS VARCHAR) || ':' || m.source), 1, 8)) AS BIGINT) % m.m AS pick
      |  FROM m
      |  CROSS JOIN (SELECT unnest(range(1, 51)) AS r) r
      |  CROSS JOIN LATERAL (SELECT unnest(range(1, m.m + 1)) AS k) k),
      |means AS (
      |  SELECT g.source, g.r,
      |    CAST(SUM(s.score) AS BIGINT) // COUNT(*) AS rmean
      |  FROM grid g JOIN samp s ON s.source = g.source AND s.rn = g.pick
      |  GROUP BY 1, 2),
      |ranked AS (SELECT source, rmean,
      |             ROW_NUMBER() OVER (PARTITION BY source ORDER BY rmean, r) AS q
      |           FROM means),
      |pt AS (SELECT source, CAST(SUM(score) AS BIGINT) // COUNT(*) AS mean_micro,
      |         CAST(COUNT(*) AS BIGINT) AS m
      |       FROM samp GROUP BY 1)
      |SELECT p.source, p.m, p.mean_micro,
      |  CAST(MIN(CASE WHEN q = 2 THEN rmean END) AS BIGINT) AS ci_lo_micro,
      |  CAST(MIN(CASE WHEN q = 49 THEN rmean END) AS BIGINT) AS ci_hi_micro
      |FROM pt p JOIN ranked USING (source)
      |GROUP BY 1, 2, 3
      |ORDER BY source""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val sc = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("source"), expr(
        "CAST(FLOOR(CAST(size(array_distinct(toks)) AS DOUBLE) * 1000000.0D / size(toks)) AS BIGINT)").as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))).cast("long"))
    val samp = sc.filter(col("rn") <= 200)
      .select(col("source"), col("rn"), col("score")).cachedStageBoundary
    val m = samp.groupBy(col("source")).agg(count(lit(1)).as("m"))
    val grid = m
      .select(col("source"), col("m"), explode(expr("sequence(1L, 50L)")).as("r"))
      .select(col("source"), col("m"), col("r"), explode(expr("sequence(1L, m)")).as("k"))
      .withColumn("pick", lit(1L) + expr(
        "CAST(conv(substring(md5(concat('boot:', CAST(r AS STRING), ':', CAST(k AS STRING), ':', source)), 1, 8), 16, 10) AS BIGINT)") % col("m"))
    val means = grid.join(samp.withColumnRenamed("rn", "pick"), Seq("source", "pick"))
      .groupBy(col("source"), col("r"))
      .agg(expr("CAST(SUM(score) AS BIGINT) DIV COUNT(*)").as("rmean"))
    val ranked = means.withColumn("q", row_number().over(
      Window.partitionBy(col("source")).orderBy(col("rmean"), col("r"))))
    val pt = samp.groupBy(col("source"))
      .agg(expr("CAST(SUM(score) AS BIGINT) DIV COUNT(*)").as("mean_micro"),
        count(lit(1)).as("m"))
    pt.join(ranked, "source")
      .groupBy(col("source"), col("m"), col("mean_micro"))
      .agg(min(when(col("q") === 2, col("rmean"))).as("ci_lo_micro"),
        min(when(col("q") === 49, col("rmean"))).as("ci_hi_micro"))
      .select(col("source"), col("m"), col("mean_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"))
      .orderBy(col("source"))
  }

  /** Pseudo-relevance-feedback query expansion (the RM3 family —
    * Abdul-Jaleel et al., TREC 2004; Lucene's "more like this" loop):
    * run BM25, treat each query's top-5 hits as relevant, mine the 3
    * strongest expansion terms from their postings (summed tf across
    * the feedback docs — an exact INTEGER score, so term selection
    * hash-verifies; ties break lexically; terms already in the query
    * are excluded), re-run BM25 with the expanded term set, emit the
    * improved top-10. The operator every lexical retrieval stack adds
    * first when recall plateaus — vocabulary mismatch is the failure
    * mode, expansion is the fix.
    *
    * Scale posture: both passes are the q136 shape (persisted postings,
    * broadcast query-term relation, WindowGroupLimit top-k); the
    * feedback mining joins the 5-row-per-query hit relation back to
    * the postings on doc_id — posting-list-sized, never corpus². The
    * expanded term relation stays bounded (|q| + 3 per query) and
    * broadcasts like the original. */
  val q187Rm3Expansion: QueryDef = sql(
    "q187_rm3_expansion",
    s"""WITH $bm25PrefixSql,
      |b1 AS (
      |${bm25ScoreSql("qt")}),
      |prf AS (SELECT query_id, doc_id FROM (
      |          SELECT query_id, doc_id,
      |            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, doc_id) AS rn
      |          FROM b1) WHERE rn <= 5),
      |cand AS (SELECT p.query_id, t.word, CAST(SUM(t.tf) AS BIGINT) AS fb_tf
      |         FROM prf p JOIN tf t ON t.doc_id = p.doc_id
      |         GROUP BY 1, 2),
      |exp AS (SELECT query_id, word FROM (
      |          SELECT c.query_id, c.word,
      |            ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY c.fb_tf DESC, c.word) AS rn
      |          FROM cand c LEFT JOIN qt ON qt.query_id = c.query_id AND qt.word = c.word
      |          WHERE qt.word IS NULL) WHERE rn <= 3),
      |qt2 AS (SELECT query_id, word FROM qt UNION SELECT query_id, word FROM exp),
      |b2 AS (
      |${bm25ScoreSql("qt2")}),
      |out AS (SELECT query_id, doc_id, raw,
      |          CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, doc_id) AS INT) AS rnk
      |        FROM b2)
      |SELECT query_id, doc_id, rnk, ROUND(raw, 6) AS bm25
      |FROM out WHERE rnk <= 10
      |ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val (tf, dl, df) = postingsIndex(s, Tables.documents(s, dir))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("word")).cachedStageBoundary
    // both passes score against the same length-joined posting relation
    // — materialize it once so the doc_id-keyed tf⋈dl shuffle is paid
    // once, not per pass
    val posting = tf.join(dl, Seq("doc_id")).cachedStageBoundary
    val term = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    def bm25(terms: DataFrame): DataFrame = broadcast(terms)
      .join(posting, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), Seq("word"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id")).agg(sum(term).as("raw"))
    val prf = bm25(qt)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("rn") <= 5).select(col("query_id"), col("doc_id"))
    val expd = broadcast(prf).join(tf, "doc_id")
      .groupBy(col("query_id"), col("word")).agg(sum(col("tf")).as("fb_tf"))
      .join(qt.withColumn("inq", lit(1)), Seq("query_id", "word"), "left")
      .filter(col("inq").isNull)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("fb_tf").desc, col("word"))))
      .filter(col("rn") <= 3).select(col("query_id"), col("word"))
    val qt2 = qt.select(col("query_id"), col("word")).union(expd).distinct()
    bm25(qt2)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("rnk"),
        round(col("raw"), 6).as("bm25"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Weak-supervision label model (the data-programming recipe —
    * Ratner et al., NeurIPS 2016 / Snorkel VLDB'18, §3's
    * agreement-weighted vote as the closed-form stand-in for the
    * generative model): three noisy labeling functions vote on every
    * document ("is this high-value training text"), abstentions
    * allowed; round 1 takes the unweighted majority; round 2 weights
    * each LF by its exact agreement rate with that majority (micro
    * integers) and emits the weighted-vote label. The standard path to
    * labels at corpus scale when hand-annotation covers 0.1% of it.
    * LFs here: the q25 quality heuristic (≥ 0.3 → keep), the q128 LM
    * perplexity gate (≤ 3.45 → keep), and a marker-word heuristic
    * (contains 'the' → keep, else abstain). Votes are {+1,−1,0}
    * integers, weights exact micro ratios, the weighted sum an
    * integer — the whole two-round model hash-verifies.
    *
    * Scale posture: each LF is one scan-level expression (the LM one
    * rides q128's broadcast count relations); the weight table is 3
    * rows, broadcast back; nothing shuffles except the doc-keyed
    * signal join. */
  val q189WeakLabels: QueryDef = sql(
    "q189_weak_labels",
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |qual AS (SELECT doc_id,
      |    CASE WHEN (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |      * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |      * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) >= 0.3
      |    THEN 1 ELSE -1 END AS v1
      |  FROM t),
      |$lmNllSql,
      |nll AS (SELECT doc_id,
      |    CASE WHEN round(rawnll, 6) <= 3.45 THEN 1 ELSE -1 END AS v2
      |  FROM nllagg),
      |mark AS (SELECT doc_id,
      |    CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END AS v3
      |  FROM t),
      |votes AS (SELECT q.doc_id, q.v1, COALESCE(n.v2, -1) AS v2, m.v3
      |          FROM qual q LEFT JOIN nll n USING (doc_id) JOIN mark m USING (doc_id)),
      |maj AS (SELECT doc_id, v1, v2, v3,
      |          CASE WHEN v1 + v2 + v3 > 0 THEN 1
      |               WHEN v1 + v2 + v3 < 0 THEN -1 ELSE 0 END AS m
      |        FROM votes),
      |w AS (SELECT
      |    CASE WHEN SUM(CASE WHEN m <> 0 THEN 1 ELSE 0 END) = 0 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(SUM(CASE WHEN v1 = m AND m <> 0 THEN 1 ELSE 0 END) * 1000000
      |           // SUM(CASE WHEN m <> 0 THEN 1 ELSE 0 END) AS BIGINT) END AS w1,
      |    CASE WHEN SUM(CASE WHEN m <> 0 THEN 1 ELSE 0 END) = 0 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(SUM(CASE WHEN v2 = m AND m <> 0 THEN 1 ELSE 0 END) * 1000000
      |           // SUM(CASE WHEN m <> 0 THEN 1 ELSE 0 END) AS BIGINT) END AS w2,
      |    CASE WHEN SUM(CASE WHEN v3 <> 0 AND m <> 0 THEN 1 ELSE 0 END) = 0 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(SUM(CASE WHEN v3 = m AND v3 <> 0 AND m <> 0 THEN 1 ELSE 0 END) * 1000000
      |           // SUM(CASE WHEN v3 <> 0 AND m <> 0 THEN 1 ELSE 0 END) AS BIGINT) END AS w3
      |  FROM maj)
      |SELECT maj.doc_id,
      |  CAST(maj.v1 AS BIGINT) AS v_quality, CAST(maj.v2 AS BIGINT) AS v_lm,
      |  CAST(maj.v3 AS BIGINT) AS v_marker, CAST(maj.m AS BIGINT) AS majority,
      |  CAST(CASE WHEN maj.v1 * w.w1 + maj.v2 * w.w2 + maj.v3 * w.w3 > 0 THEN 1
      |            WHEN maj.v1 * w.w1 + maj.v2 * w.w2 + maj.v3 * w.w3 < 0 THEN -1
      |            ELSE 0 END AS BIGINT) AS label
      |FROM maj, w
      |ORDER BY maj.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("toks", split(col("text"), " "))
    val qual = docs.select(col("doc_id"),
      when(((size(array_distinct(col("toks"))).cast("double") / size(col("toks"))) *
        (lit(1.0) - expr("size(filter(toks, x -> x = 'the' OR x = 'a'))").cast("double") /
          size(col("toks"))) *
        least(lit(1.0), size(col("toks")).cast("double") / 50.0)) >= 0.3, 1L)
        .otherwise(-1L).as("v1"))
    val nll = lmPerplexity(docs, docs.filter(col("lang") === "en"))
      .select(col("doc_id"),
        when(col("avg_nll") <= 3.45, 1L).otherwise(-1L).as("v2"))
    val mark = docs.select(col("doc_id"),
      when(array_contains(col("toks"), "the"), 1L).otherwise(0L).as("v3"))
    val maj = qual.join(nll, Seq("doc_id"), "left")
      .withColumn("v2", coalesce(col("v2"), lit(-1L)))
      .join(mark, "doc_id")
      .withColumn("m", when(col("v1") + col("v2") + col("v3") > 0, 1L)
        .when(col("v1") + col("v2") + col("v3") < 0, -1L).otherwise(0L)).cachedStageBoundary
    // a never-firing LF (or an all-abstain majority) gets weight 0, not a
    // division error — the smoke corpus has no marker word at all
    val w = maj.agg(
      expr("CASE WHEN SUM(CASE WHEN m <> 0 THEN 1 ELSE 0 END) = 0 THEN 0L ELSE SUM(CASE WHEN v1 = m AND m <> 0 THEN 1 ELSE 0 END) * 1000000L DIV SUM(CASE WHEN m <> 0 THEN 1 ELSE 0 END) END").as("w1"),
      expr("CASE WHEN SUM(CASE WHEN m <> 0 THEN 1 ELSE 0 END) = 0 THEN 0L ELSE SUM(CASE WHEN v2 = m AND m <> 0 THEN 1 ELSE 0 END) * 1000000L DIV SUM(CASE WHEN m <> 0 THEN 1 ELSE 0 END) END").as("w2"),
      expr("CASE WHEN SUM(CASE WHEN v3 <> 0 AND m <> 0 THEN 1 ELSE 0 END) = 0 THEN 0L ELSE SUM(CASE WHEN v3 = m AND v3 <> 0 AND m <> 0 THEN 1 ELSE 0 END) * 1000000L DIV SUM(CASE WHEN v3 <> 0 AND m <> 0 THEN 1 ELSE 0 END) END").as("w3"))
    maj.crossJoin(broadcast(w))
      .withColumn("score", col("v1") * col("w1") + col("v2") * col("w2") + col("v3") * col("w3"))
      .select(col("doc_id"), col("v1").as("v_quality"), col("v2").as("v_lm"),
        col("v3").as("v_marker"), col("m").as("majority"),
        when(col("score") > 0, 1L).when(col("score") < 0, -1L).otherwise(0L).as("label"))
      .orderBy(col("doc_id"))
  }

  /** k-anonymity audit (Sweeney 2002) over the corpus's
    * quasi-identifiers — the data-governance check a training-corpus
    * release runs beside PII redaction (q72 removes direct
    * identifiers; this measures whether METADATA combinations still
    * single documents out): group by the quasi-identifier tuple
    * (lang, source, length bucket) and flag every equivalence class
    * smaller than k = 5 — a document in such a class is
    * re-identifiable by its metadata alone. Emits the risky classes
    * with their sizes; the release decision is "generalize the bucket
    * or drop the rows" until no class is flagged.
    *
    * Scale posture: one scan-level bucket expression + one
    * QI-keyed map-side-combined count — exact integers throughout. */
  val q195KAnonymity: QueryDef = sql(
    "q195_k_anonymity",
    """WITH qi AS (SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_bucket
      |            FROM documents),
      |cls AS (SELECT lang, source, len_bucket, COUNT(*) AS n_docs
      |        FROM qi GROUP BY 1, 2, 3)
      |SELECT lang, source, len_bucket, n_docs, (n_docs < 5) AS risky
      |FROM cls
      |ORDER BY lang, source, len_bucket""".stripMargin) { (s, dir) =>
    Tables.fanOut(Tables.documents(s, dir))
      .select(col("lang"), col("source"), expr("n_chars DIV 100").as("len_bucket"))
      .groupBy(col("lang"), col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("risky", col("n_docs") < 5)
      .orderBy(col("lang"), col("source"), col("len_bucket"))
  }

  /** Token-budget shard packing: documents in doc_id order fill training
    * shards of [[ShardBudget]] tokens (shard = exclusive-prefix-sum ÷
    * budget — a doc starting before a boundary stays in the earlier
    * shard). The write-side step of every pretraining pipeline.
    *
    * A naive global-ORDER-BY running sum is a single-partition window —
    * the q39 anti-pattern. This is the distributed two-phase prefix sum:
    * docs group into coarse doc_id blocks; block token totals (a
    * dimension-sized frame) take the only global window; per-doc running
    * sums then window WITHIN each block, keyed by the block id, and add
    * the block's exclusive offset. Identical integer arithmetic to the
    * oracle's naive window, scale-safe shuffle keys throughout. */
  private val ShardBudget = 50000L
  private val ShardBlockWidth = 512L

  /** The shard-packing relation q100 and q165 share: (doc_id, n_tokens,
    * offset_tokens, shard_id, h) with the block-offset two-pass prefix
    * sum (no corpus-global single-task window) and a 60-bit md5 content
    * hash per doc. Consumers that don't read `h` get it pruned from the
    * scan projection, so q100 pays nothing for it. */
  private def shardPacked(s: SparkSession, dir: String): DataFrame =
    shardPackedOf(Tables.documents(s, dir))

  private def shardPackedOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr(s"doc_id DIV $ShardBlockWidth").as("blk"),
        expr("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', text)), 1, 15), 16, 10) AS BIGINT)").as("h"))
    val blockOffsets = t.groupBy(col("blk")).agg(sum(col("n_tokens")).as("blk_tokens"))
      .withColumn("blk_offset", coalesce(sum(col("blk_tokens")).over(
        Window.orderBy(col("blk")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("blk"), col("blk_offset"))
    val within = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(blockOffsets), "blk")
      .withColumn("offset_tokens",
        col("blk_offset") + coalesce(sum(col("n_tokens")).over(within), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("offset_tokens"),
        // integral DIV, not double '/': FP truncation can disagree with
        // floor division exactly at shard boundaries
        expr(s"offset_tokens DIV $ShardBudget").as("shard_id"), col("h"))
  }

  val q100ShardPacking: QueryDef = sql(
    "q100_shard_packing",
    s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
       |packed AS (SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_tokens
       |  FROM t)
       |SELECT doc_id, n_tokens, offset_tokens,
       |  CAST(offset_tokens // $ShardBudget AS BIGINT) AS shard_id
       |FROM packed
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    shardPacked(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("offset_tokens"), col("shard_id"))
      .orderBy(col("doc_id"))
  }

  /** Release shard manifest — the integrity artifact a dataset release
    * ships beside its shards (the checksums consumers verify before
    * training): per q100 shard, document count, id range, token total,
    * and an ORDER-INDEPENDENT content hash (bit_xor of 60-bit md5
    * prefixes — XOR so any partition layout writes the identical
    * manifest, and overflow-proof under ANSI partial aggregation). A
    * consumer re-derives a shard's hash from its rows and rejects
    * tampered or truncated shards; a
    * publisher diffs manifests release-over-release (q145 says which
    * DOCS moved; this says which SHARDS need re-download). All exact
    * integers — the manifest itself hash-verifies. One aggregate over
    * the shared shard-packing relation; output is shard-count-sized. */
  val q165ShardManifest: QueryDef = sql(
    "q165_shard_manifest",
    s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) AS BIGINT) AS h
       |    FROM documents),
       |packed AS (SELECT doc_id, n_tokens, h,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_tokens
       |  FROM t)
       |SELECT CAST(offset_tokens // $ShardBudget AS BIGINT) AS shard_id,
       |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(bit_xor(h) AS BIGINT) AS content_hash
       |FROM packed
       |GROUP BY 1
       |ORDER BY shard_id""".stripMargin) { (s, dir) =>
    shardPacked(s, dir)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"), sum(col("n_tokens")).as("total_tokens"),
        expr("bit_xor(h)").as("content_hash"))
      .orderBy(col("shard_id"))
  }

  /** Per-shard manifest of an arbitrary (doc_id, text) version frame —
    * the piece q167 diffs across releases. */
  private[graft] def manifestOf(docs: DataFrame): DataFrame =
    shardPackedOf(docs)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        expr("bit_xor(h)").as("content_hash"))

  /** One version's manifest CTE chain for the q167 oracle: `src` is a
    * (doc_id, text) subquery, `x` suffixes the CTE names. */
  private def manifestCteSql(src: String, x: String): String =
    s"""t$x AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) AS BIGINT) AS h
       |    FROM $src),
       |packed$x AS (SELECT doc_id, n_tokens, h,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_tokens
       |  FROM t$x),
       |m$x AS (SELECT CAST(offset_tokens // $ShardBudget AS BIGINT) AS shard_id,
       |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(bit_xor(h) AS BIGINT) AS content_hash
       |  FROM packed$x GROUP BY 1)""".stripMargin

  /** Content-defined shard assignment over a (doc_id, text) frame:
    * doc d opens a new shard when the PREVIOUS doc's content hash hit
    * the boundary pattern (h % [[CdcDivisor]] = 0), so boundaries are
    * properties of CONTENT, not offsets. Shard id = count of boundary
    * docs strictly before d (the same block-offset two-pass prefix sum
    * as [[shardPackedOf]] — no corpus-global single-task window). */
  private[graft] def cdcSharded(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr(s"doc_id DIV $ShardBlockWidth").as("blk"),
        expr("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', text)), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .withColumn("b", (col("h") % CdcDivisor === 0).cast("long"))
    val blockOffsets = t.groupBy(col("blk")).agg(sum(col("b")).as("blk_b"))
      .withColumn("blk_off", coalesce(sum(col("blk_b")).over(
        Window.orderBy(col("blk")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("blk"), col("blk_off"))
    val within = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(blockOffsets), "blk")
      .withColumn("shard_id", col("blk_off") + coalesce(sum(col("b")).over(within), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("h"), col("shard_id"))
  }

  private val CdcDivisor = 32L

  /** Content-defined chunking of the shard stream (the Rabin/LBFS device
    * every dedup-aware store uses — restic/borg/rsync descend from it),
    * resolving the trade q167 documents: offset-packed shards give an
    * exact token budget but one early edit shifts EVERY later boundary;
    * CDC shards key their boundaries on content hashes (a doc whose
    * 60-bit hash ≡ 0 mod 32 closes its shard), so an edit or insertion
    * rewrites ONLY the shard containing it — every other shard's
    * manifest row is byte-identical and needs no re-download. The cost
    * is variable shard size (geometric, mean 32 docs) instead of a
    * token budget. Emits the q165-shaped manifest per CDC shard; all
    * exact integers, order-independent XOR hash. */
  val q168CdcShards: QueryDef = sql(
    "q168_cdc_shards",
    s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) AS BIGINT) AS h
       |    FROM documents),
       |marked AS (SELECT doc_id, n_tokens, h,
       |    CASE WHEN h % $CdcDivisor = 0 THEN 1 ELSE 0 END AS b
       |  FROM t),
       |sharded AS (SELECT doc_id, n_tokens, h,
       |    CAST(COALESCE(SUM(b) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS shard_id
       |  FROM marked)
       |SELECT shard_id, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(bit_xor(h) AS BIGINT) AS content_hash
       |FROM sharded
       |GROUP BY 1
       |ORDER BY shard_id""".stripMargin) { (s, dir) =>
    cdcManifestOf(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .orderBy(col("shard_id"))
  }

  /** The q168 manifest over an arbitrary (doc_id, text) frame — exposed
    * so the CDC localization property is testable against edits. */
  private[graft] def cdcManifestOf(docs: DataFrame): DataFrame =
    cdcSharded(docs)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"), sum(col("n_tokens")).as("total_tokens"),
        expr("bit_xor(h)").as("content_hash"))

  private val PassageWidth = 64L
  private val PassageStride = 48L

  /** Overlapping passage windows — the RAG ingestion chunker (what a
    * retrieval corpus indexes instead of whole documents; the 16-token
    * overlap keeps answers that straddle a boundary findable from both
    * sides — the standard sliding-window chunking every retrieval
    * framework ships). Window k of a doc starts at k·stride and holds
    * min(width, len − k·stride) tokens; window count is the exact
    * integer ceil((len − width)/stride) + 1 (1 for short docs), so every
    * token is covered and adjacent full windows overlap by width −
    * stride. q74 chunks disjointly for training; this overlaps for
    * serving. Emits per-passage md5 so the passage table is itself
    * integrity-checkable. One scan, one explode, no shuffle at all
    * before the ordered emission. */
  val q169PassageWindows: QueryDef = sql(
    "q169_passage_windows",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS len
       |           FROM documents),
       |w AS (SELECT doc_id, len,
       |        CASE WHEN len <= $PassageWidth THEN 1
       |             ELSE (len - $PassageWidth + $PassageStride - 1) // $PassageStride + 1 END AS nwin,
       |        toks
       |      FROM t),
       |p AS (SELECT doc_id, len, toks, unnest(range(0, nwin)) AS k FROM w)
       |SELECT doc_id, CAST(k AS BIGINT) AS passage_id,
       |  CAST(k * $PassageStride AS BIGINT) AS start_tok,
       |  CAST(LEAST($PassageWidth, len - k * $PassageStride) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(toks[CAST(k * $PassageStride + 1 AS BIGINT):CAST(k * $PassageStride + LEAST($PassageWidth, len - k * $PassageStride) AS BIGINT)], ' ')) AS passage_hash
       |FROM p
       |ORDER BY doc_id, passage_id""".stripMargin) { (s, dir) =>
    docsWithTokens(s, dir)
      .withColumn("len", size(col("toks")).cast("long"))
      .withColumn("nwin", expr(
        s"CASE WHEN len <= $PassageWidth THEN 1L ELSE (len - $PassageWidth + $PassageStride - 1) DIV $PassageStride + 1 END"))
      .select(col("doc_id"), col("len"), col("toks"),
        explode(expr("sequence(0L, nwin - 1)")).as("k"))
      .select(col("doc_id"), col("k").as("passage_id"),
        (col("k") * PassageStride).as("start_tok"),
        least(lit(PassageWidth), col("len") - col("k") * PassageStride).as("n_tokens"),
        md5(expr(
          s"concat_ws(' ', slice(toks, CAST(k * $PassageStride + 1 AS INT), CAST(LEAST($PassageWidth, len - k * $PassageStride) AS INT)))")).as("passage_hash"))
      .orderBy(col("doc_id"), col("passage_id"))
  }

  /** Passage-level retrieval — BM25 at the granularity a RAG stack
    * actually serves (q169's overlapping windows are what gets indexed;
    * whole-document scores dilute the hit when the answer lives in one
    * window): score every passage against each query doc's terms, then
    * rank DOCUMENTS by their best passage (max-passage aggregation —
    * the standard long-document trick, Dai & Callan SIGIR'19's
    * MaxP applied to lexical scoring) and emit the winning passage
    * alongside, so the caller can serve the window, not the document.
    * Passage ids pack as doc_id·1000 + window (fixture docs hold < 1000
    * windows by construction). All ranks exact; scores follow the q136
    * float discipline (identical expression, emit rounded, rank raw).
    *
    * Scale posture: the q136 shape over the passage corpus (the
    * 64/48 overlap costs a fixed ~1.33× token duplication — the price
    * of boundary-straddling recall); query terms broadcast; the
    * max-passage cut is one (query, doc)-keyed agg below the final
    * WindowGroupLimit top-10. */
  val q197PassageRetrieval: QueryDef = sql(
    "q197_passage_retrieval",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS len
       |           FROM documents),
       |w AS (SELECT doc_id, len, toks,
       |        CASE WHEN len <= $PassageWidth THEN 1
       |             ELSE (len - $PassageWidth + $PassageStride - 1) // $PassageStride + 1 END AS nwin
       |      FROM t),
       |pass AS (SELECT doc_id, doc_id * 1000 + k AS pid,
       |           toks[CAST(k * $PassageStride + 1 AS BIGINT):CAST(k * $PassageStride + LEAST($PassageWidth, len - k * $PassageStride) AS BIGINT)] AS ptoks
       |         FROM w, LATERAL (SELECT unnest(range(0, nwin)) AS k)),
       |ptok AS (SELECT doc_id, pid, unnest(ptoks) AS word FROM pass),
       |ptf AS (SELECT doc_id, pid, word, COUNT(*) AS tf FROM ptok GROUP BY 1, 2, 3),
       |pdl AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS dl FROM ptok GROUP BY 1),
       |pdf AS (SELECT word, COUNT(DISTINCT pid) AS df FROM ptok GROUP BY 1),
       |pstats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM pdl),
       |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(string_split(text, ' ')) AS word
       |       FROM documents WHERE doc_id % 100 = 0),
       |scored AS (
       |  SELECT q.query_id, p.doc_id, p.pid,
       |    SUM(LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
       |        * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))) AS raw
       |  FROM qt q
       |  JOIN ptf p ON p.word = q.word AND p.doc_id <> q.query_id
       |  JOIN pdf d ON d.word = q.word
       |  JOIN pdl l ON l.pid = p.pid, pstats s
       |  GROUP BY 1, 2, 3),
       |best AS (SELECT query_id, doc_id, pid, ROUND(raw, 6) AS r6,
       |           ROW_NUMBER() OVER (PARTITION BY query_id, doc_id ORDER BY ROUND(raw, 6) DESC, pid) AS pr
       |         FROM scored),
       |docs AS (SELECT query_id, doc_id, pid, r6,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY r6 DESC, doc_id) AS INT) AS rnk
       |         FROM best WHERE pr = 1)
       |SELECT query_id, doc_id, pid AS passage_id, rnk, r6 AS bm25
       |FROM docs WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val pass = docsWithTokens(s, dir)
      .withColumn("len", size(col("toks")).cast("long"))
      .withColumn("nwin", expr(
        s"CASE WHEN len <= $PassageWidth THEN 1L ELSE (len - $PassageWidth + $PassageStride - 1) DIV $PassageStride + 1 END"))
      .select(col("doc_id"), col("len"), col("toks"),
        explode(expr("sequence(0L, nwin - 1)")).as("k"))
      .select(col("doc_id"), (col("doc_id") * 1000 + col("k")).as("pid"),
        expr(s"slice(toks, CAST(k * $PassageStride + 1 AS INT), CAST(LEAST($PassageWidth, len - k * $PassageStride) AS INT))").as("ptoks"))
    val ptok = pass.select(col("doc_id"), col("pid"), explode(col("ptoks")).as("word"))
      .cachedStageBoundary
    val ptf = ptok.groupBy(col("doc_id"), col("pid"), col("word")).agg(count(lit(1)).as("tf"))
    val pdl = ptok.groupBy(col("pid")).agg(count(lit(1)).as("dl"))
    val pdf = ptok.select(col("pid"), col("word")).distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    val pstats = pdl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), explode(split(col("text"), " ")).as("word"))
      .distinct()
    val term = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    broadcast(qt).join(ptf, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(pdf), Seq("word"))
      .join(pdl, Seq("pid"))
      .crossJoin(broadcast(pstats))
      .groupBy(col("query_id"), col("doc_id"), col("pid")).agg(sum(term).as("raw"))
      // rank on the ROUNDED score (not raw, the q136 discipline): the
      // passage corpus contains byte-identical windows (near-dup docs),
      // whose sums differ by summation-order ulps WITHIN and BETWEEN
      // engines — rounding collapses the noise, pid/doc_id break the
      // now-real ties identically everywhere
      .withColumn("r6", round(col("raw"), 6))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("query_id"), col("doc_id")).orderBy(col("r6").desc, col("pid"))))
      .filter(col("pr") === 1)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("r6").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("pid").as("passage_id"),
        col("rnk"), col("r6").as("bm25"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** RRF hyperparameter sweep — the fusion constant k as DATA, not a
    * config rerun: fuse the two q137 legs under k ∈ {10, 60, 100}
    * simultaneously (one plan, the parameter grid cross-joined into the
    * rank-only fusion expression) and judge each k against the
    * exact-cosine ground truth with q172's integer recall. The
    * relational form of a tuning sweep: at 100 TB you cannot afford one
    * retrieval pass per candidate value, but the legs' ranks are
    * computed ONCE and every fusion variant is a scalar expression over
    * them — sweep cost is |grid| × a dimension-sized fusion, not
    * |grid| × retrieval. Cormack SIGIR'09 fixed k = 60 by exactly this
    * kind of sweep; this operator reproduces the experiment as one
    * query. All judgments exact integers; the fused score is two exact
    * rationals summed by one expression (no aggregation-order noise).
    */
  val q198RrfSweep: QueryDef = sql(
    "q198_rrf_sweep",
    s"""WITH $bm25PrefixSql,
      |bscore AS (
      |${bm25ScoreSql("qt")}),
      |brank AS (SELECT query_id, doc_id,
      |            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, doc_id) AS lex_rank
      |          FROM bscore),
      |n AS (SELECT vec_id, embedding,
      |        SQRT(list_reduce(list_transform(range(len(embedding)), i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)), (x, y) -> x + y)) AS nrm
      |      FROM embeddings),
      |qe AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
      |sscore AS (SELECT q.query_id, n.vec_id AS doc_id,
      |             list_reduce(list_transform(range(len(n.embedding)), i -> CAST(n.embedding[i+1] AS DOUBLE) * CAST(q.qv[i+1] AS DOUBLE)), (x, y) -> x + y) / (n.nrm * q.qn) AS cosine
      |           FROM n JOIN qe q ON n.vec_id <> q.query_id),
      |srank AS (SELECT query_id, doc_id,
      |            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS sem_rank
      |          FROM sscore),
      |truth AS (SELECT query_id, doc_id FROM srank WHERE sem_rank <= 10),
      |legs AS (SELECT COALESCE(b.query_id, s.query_id) AS query_id,
      |           COALESCE(b.doc_id, s.doc_id) AS doc_id, b.lex_rank, s.sem_rank
      |         FROM (SELECT * FROM brank WHERE lex_rank <= 20) b
      |         FULL OUTER JOIN (SELECT * FROM srank WHERE sem_rank <= 20) s
      |           ON s.query_id = b.query_id AND s.doc_id = b.doc_id),
      |ks AS (SELECT unnest([10, 60, 100]) AS k_param),
      |fused AS (SELECT ks.k_param, l.query_id, l.doc_id,
      |            COALESCE(1.0 / (ks.k_param + l.lex_rank), 0.0)
      |              + COALESCE(1.0 / (ks.k_param + l.sem_rank), 0.0) AS raw
      |          FROM legs l CROSS JOIN ks),
      |run AS (SELECT k_param, query_id, doc_id FROM (
      |          SELECT k_param, query_id, doc_id,
      |            ROW_NUMBER() OVER (PARTITION BY k_param, query_id ORDER BY raw DESC, doc_id) AS rnk
      |          FROM fused) WHERE rnk <= 10),
      |hits AS (SELECT r.k_param, r.query_id, COUNT(t.doc_id) AS h
      |         FROM run r LEFT JOIN truth t
      |           ON t.query_id = r.query_id AND t.doc_id = r.doc_id
      |         GROUP BY 1, 2),
      |nq AS (SELECT COUNT(DISTINCT query_id) AS n_queries FROM qt)
      |SELECT CAST(h.k_param AS BIGINT) AS k_param, nq.n_queries,
      |  CAST(SUM(h.h) AS BIGINT) AS sum_hits,
      |  CAST(SUM(h.h) * 100000 // nq.n_queries AS BIGINT) AS mean_recall_micro
      |FROM hits h, nq
      |GROUP BY 1, 2
      |ORDER BY k_param""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    graft.functions.CosineSimilarity.register(s)
    val (tf, dl, df) = postingsIndex(s, Tables.documents(s, dir))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("word"))
    val term = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val brank = broadcast(qt).join(tf, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id")).agg(sum(term).as("raw"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("lex_rank") <= 20).select(col("query_id"), col("doc_id"), col("lex_rank"))
    val emb = Tables.embeddings(s, dir)
    val qe = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val srankAll = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(qe))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("cosine", expr("cosine_sim_native(embedding, qv)"))
      .withColumn("sem_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("doc_id"))))
      .cachedStageBoundary
    val truth = srankAll.filter(col("sem_rank") <= 10)
      .select(col("query_id"), col("doc_id"))
    val legs = brank
      .join(srankAll.filter(col("sem_rank") <= 20)
        .select(col("query_id"), col("doc_id"), col("sem_rank")),
        Seq("query_id", "doc_id"), "full_outer")
    val ks = Seq(10, 60, 100).toDF("k_param")
    val run = legs.crossJoin(broadcast(ks))
      .withColumn("raw",
        coalesce(lit(1.0) / (col("k_param") + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (col("k_param") + col("sem_rank")), lit(0.0)))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("k_param"), col("query_id"))
          .orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("k_param"), col("query_id"), col("doc_id"))
    val hits = run.join(truth.withColumn("hit", lit(1)), Seq("query_id", "doc_id"), "left")
      .groupBy(col("k_param"), col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("h"))
    val nq = qt.select(col("query_id")).distinct().count()
    hits.groupBy(col("k_param").cast("long").as("k_param"))
      .agg(sum(col("h")).as("sum_hits"))
      .select(col("k_param"), lit(nq).as("n_queries"), col("sum_hits"),
        expr(s"sum_hits * 100000L DIV ${nq}L").as("mean_recall_micro"))
      .orderBy(col("k_param"))
  }

  /** The corpus scorecard — every headline health number a data-quality
    * review asks for, as ONE query emitting a (metric, value) relation:
    * volume (docs, tokens, languages, sources), duplication (exact-dup
    * groups and the docs they'd remove), quality (floor-mean of the q25
    * score in micro units — per-doc floors summed as exact integers, so
    * the mean is aggregation-order-proof), the LM gate's flag count
    * (q128's threshold over the shared NLL chain), and governance
    * (q195's risky quasi-identifier classes). The single-relation shape
    * is the point: a release pipeline diffs two scorecards the way q145
    * diffs two corpora, and ONE hash pins all nine numbers.
    *
    * Scale posture: a union of independent aggregates, each already
    * proven scan-shaped by its donor operator; nothing here adds a
    * shuffle the donors don't have. */
  val q200CorpusScorecard: QueryDef = sql(
    "q200_corpus_scorecard",
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |$lmNllSql,
      |per AS (SELECT doc_id,
      |    CAST(FLOOR((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |      * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |      * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) * 1000000.0) AS BIGINT) AS q_micro,
      |    CAST(len(toks) AS BIGINT) AS n_toks
      |  FROM t),
      |dup AS (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1),
      |qi AS (SELECT lang, source, n_chars // 100 AS b, COUNT(*) AS n
      |       FROM documents GROUP BY 1, 2, 3)
      |SELECT metric, value FROM (
      |  SELECT 'n_docs' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM documents
      |  UNION ALL SELECT 'total_tokens', CAST(SUM(n_toks) AS BIGINT) FROM per
      |  UNION ALL SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
      |  UNION ALL SELECT 'n_sources', CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents
      |  UNION ALL SELECT 'n_exact_dup_groups', CAST(COUNT(*) AS BIGINT) FROM dup WHERE c >= 2
      |  UNION ALL SELECT 'n_exact_dup_docs', CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM dup WHERE c >= 2
      |  UNION ALL SELECT 'mean_quality_micro',
      |    CAST(FLOOR(CAST(SUM(q_micro) AS DOUBLE) / COUNT(*)) AS BIGINT) FROM per
      |  UNION ALL SELECT 'n_lm_flagged',
      |    CAST(SUM(CASE WHEN round(rawnll, 6) > 3.45 THEN 1 ELSE 0 END) AS BIGINT) FROM nllagg
      |  UNION ALL SELECT 'n_risky_qi_classes', CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) FROM qi)
      |ORDER BY metric""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables.fanOut(Tables.documents(s, dir)).cachedStageBoundary
    val per = docs.withColumn("toks", split(col("text"), " "))
      .select(
        expr("CAST(FLOOR((CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks)) * (1.0D - CAST(size(filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / size(toks)) * LEAST(1.0D, CAST(size(toks) AS DOUBLE) / 50.0D) * 1000000.0D) AS BIGINT)").as("q_micro"),
        size(col("toks")).cast("long").as("n_toks"))
    val dup = docs.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .agg(coalesce(count(lit(1)), lit(0L)).as("groups"),
        coalesce(sum(col("c") - 1), lit(0L)).as("extra"))
      .collect()(0)
    val nllFlagged = lmPerplexity(docs, docs.filter(col("lang") === "en"))
      .filter(col("high_perplexity")).count()
    val qiRisky = docs.select(col("lang"), col("source"), expr("n_chars DIV 100").as("b"))
      .groupBy(col("lang"), col("source"), col("b")).agg(count(lit(1)).as("n"))
      .filter(col("n") < 5).count()
    val counts = docs.agg(count(lit(1)).as("n"),
      countDistinct(col("lang")).as("nl"), countDistinct(col("source")).as("ns"))
      .collect()(0)
    val perAgg = per.agg(sum(col("n_toks")).as("tt"),
      expr("CAST(FLOOR(CAST(SUM(q_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)").as("mq"))
      .collect()(0)
    Seq(
      ("n_docs", counts.getLong(0)),
      ("total_tokens", perAgg.getLong(0)),
      ("n_langs", counts.getLong(1)),
      ("n_sources", counts.getLong(2)),
      ("n_exact_dup_groups", dup.getLong(0)),
      ("n_exact_dup_docs", dup.getLong(1)),
      ("mean_quality_micro", perAgg.getLong(1)),
      ("n_lm_flagged", nllFlagged),
      ("n_risky_qi_classes", qiRisky))
      .toDF("metric", "value")
      .orderBy(col("metric"))
  }

  private val CompactionBudget = 5000L

  /** Compaction planning — the table-maintenance face (the OPTIMIZE /
    * small-files problem every long-lived lakehouse table accumulates;
    * CDC shards make it acute because their sizes are geometric):
    * walk the q168 shards in order and greedily merge neighbors until
    * each group holds ≥ [[CompactionBudget]] tokens — greedy-with-reset,
    * which guarantees every group (except possibly the last) meets the
    * floor, unlike fixed-bucket assignment which can undershoot. The
    * recurrence is inherently sequential, but its INPUT is the
    * shard-level manifest — already reduced from the corpus by a
    * distributed aggregate — so the walk is shard-count-sized (the
    * bounded-collect class of q132's merge rounds and q147's greedy
    * argmax; ~400k rows at 100 TB/256 MB shards, kilobytes per row).
    * The oracle walks the same recurrence as a linear RECURSIVE CTE.
    * Output: one row per planned merge group. */
  val q170CompactionPlan: QueryDef = sql(
    "q170_compaction_plan",
    s"""WITH RECURSIVE t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) AS BIGINT) AS h
       |    FROM documents),
       |marked AS (SELECT doc_id, n_tokens,
       |    CASE WHEN h % $CdcDivisor = 0 THEN 1 ELSE 0 END AS b
       |  FROM t),
       |sharded AS (SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(b) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS shard_id
       |  FROM marked),
       |shards AS (SELECT shard_id, CAST(SUM(n_tokens) AS BIGINT) AS tok
       |  FROM sharded GROUP BY 1),
       |walk(shard_id, grp, acc) AS (
       |  SELECT shard_id, CAST(0 AS BIGINT), tok FROM shards WHERE shard_id = 0
       |  UNION ALL
       |  SELECT s.shard_id,
       |    CASE WHEN w.acc >= $CompactionBudget THEN w.grp + 1 ELSE w.grp END,
       |    CASE WHEN w.acc >= $CompactionBudget THEN s.tok ELSE w.acc + s.tok END
       |  FROM shards s JOIN walk w ON s.shard_id = w.shard_id + 1)
       |SELECT grp AS group_id, COUNT(*) AS n_shards,
       |  MIN(shard_id) AS first_shard, MAX(shard_id) AS last_shard,
       |  CAST(MAX(acc) AS BIGINT) AS group_tokens
       |FROM walk
       |GROUP BY 1
       |ORDER BY group_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    // shard-count-sized bounded collect (see scaladoc) — the walk input
    // is the distributed manifest aggregate, not the corpus
    val shards = cdcSharded(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .groupBy(col("shard_id")).agg(sum(col("n_tokens")).as("tok"))
      .orderBy(col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
    var grp = 0L; var acc = 0L; var first = 0L; var n = 0L
    shards.foreach { case (sid, tok) =>
      if (n > 0 && acc >= CompactionBudget) {
        out += ((grp, n, first, sid - 1, acc))
        grp += 1; acc = 0L; n = 0L; first = sid
      }
      acc += tok; n += 1
    }
    if (n > 0) out += ((grp, n, first, shards.last._1, acc))
    out.toSeq.toDF("group_id", "n_shards", "first_shard", "last_shard", "group_tokens")
      .orderBy(col("group_id"))
  }

  /** Commit-log time travel — the Delta/Iceberg metadata-replay query
    * (Armbrust et al., VLDB'20 §3: a table IS the replay of its action
    * log): reconstruct the live file set as of any version by taking,
    * per file, the LATEST logged action ≤ that version and keeping it
    * iff the action is a `put`. The log here is synthesized
    * deterministically over the q168 CDC shards (version 0 puts every
    * shard; versions 1–5 rewrite ~20% and delete ~10% of those, chosen
    * by md5 fraction of (version, shard)), so both engines derive the
    * identical history from corpus content alone. Two snapshots
    * (as-of 2 and as-of 5) read from ONE log relation.
    *
    * Scale posture: this is the metadata plane — the log is
    * shard-count-sized (~400k rows at 100 TB/256 MB shards), never
    * corpus-sized; the only corpus pass is the CDC manifest build the
    * shards already paid for. Replay is one (as_of, file)-keyed
    * window over the log; a production reader checkpoints the replay
    * (Delta's _last_checkpoint) so steady-state cost is the log TAIL
    * since the last checkpoint — the same persisted-state shape as
    * q108/q136. */
  /** Shared oracle chain (q176/q228): the synthesized shard-level
    * commit log, ending at CTE `acts(version, shard_id, action,
    * file_hash)` — one definition so the vacuum planner can never
    * reason over a different history than the time-travel reader. */
  private lazy val commitLogSql =
    s"""t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) AS BIGINT) AS h
       |    FROM documents),
       |marked AS (SELECT doc_id, n_tokens, h,
       |    CASE WHEN h % $CdcDivisor = 0 THEN 1 ELSE 0 END AS b
       |  FROM t),
       |sharded AS (SELECT doc_id, n_tokens, h,
       |    CAST(COALESCE(SUM(b) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS shard_id
       |  FROM marked),
       |files AS (SELECT shard_id, CAST(bit_xor(h) AS BIGINT) AS h0 FROM sharded GROUP BY 1),
       |acts AS (
       |  SELECT CAST(0 AS BIGINT) AS version, shard_id, 'put' AS action, h0 AS file_hash
       |  FROM files
       |  UNION ALL
       |  SELECT CAST(v.v AS BIGINT), f.shard_id,
       |    CASE WHEN u.b < 6554 THEN 'delete' ELSE 'put' END,
       |    CASE WHEN u.b < 6554 THEN NULL ELSE f.h0 + v.v END
       |  FROM files f
       |  CROSS JOIN (SELECT unnest(range(1, 6)) AS v) v
       |  CROSS JOIN LATERAL (SELECT CAST(('0x' || substr(md5('rw:' || CAST(v.v AS VARCHAR) || ':' || CAST(f.shard_id AS VARCHAR)), 1, 4)) AS INT) AS b) u
       |  WHERE u.b < 19661)""".stripMargin

  val q176TimeTravel: QueryDef = sql(
    "q176_time_travel",
    s"""WITH $commitLogSql,
       |snap AS (
       |  SELECT a.as_of, l.shard_id, l.action, l.file_hash,
       |    ROW_NUMBER() OVER (PARTITION BY a.as_of, l.shard_id ORDER BY l.version DESC) AS rn
       |  FROM (SELECT CAST(2 AS BIGINT) AS as_of UNION ALL SELECT CAST(5 AS BIGINT)) a
       |  JOIN acts l ON l.version <= a.as_of)
       |SELECT as_of, shard_id, file_hash
       |FROM snap WHERE rn = 1 AND action = 'put'
       |ORDER BY as_of, shard_id""".stripMargin) { (s, dir) =>
    timeTravel(commitLog(Tables.documents(s, dir).select(col("doc_id"), col("text"))),
        Seq(2L, 5L))(s)
      .orderBy(col("as_of"), col("shard_id"))
  }

  /** The synthesized shard-level action log behind q176: (version,
    * shard_id, action, file_hash). Exposed so replay is testable
    * against hand-built histories. */
  private[graft] def commitLog(docs: DataFrame): DataFrame = {
    val files = cdcManifestOf(docs).select(col("shard_id"), col("content_hash").as("h0"))
    val base = files.select(lit(0L).as("version"), col("shard_id"),
      lit("put").as("action"), col("h0").as("file_hash"))
    val edits = files
      .select(col("shard_id"), col("h0"), explode(expr("sequence(1L, 5L)")).as("version"))
      .withColumn("b", expr(
        "CAST(conv(substring(md5(concat('rw:', CAST(version AS STRING), ':', CAST(shard_id AS STRING))), 1, 4), 16, 10) AS INT)"))
      .filter(col("b") < 19661)
      .select(col("version"), col("shard_id"),
        when(col("b") < 6554, lit("delete")).otherwise(lit("put")).as("action"),
        when(col("b") < 6554, lit(null).cast("long"))
          .otherwise(col("h0") + col("version")).as("file_hash"))
    base.union(edits)
  }

  /** Last-action-wins replay of a (version, shard_id, action, file_hash)
    * log at each requested version: the live file set as of that
    * version. */
  private[graft] def timeTravel(log: DataFrame, asOf: Seq[Long])(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val versions = asOf.toDF("as_of")
    log.crossJoin(broadcast(versions))
      .filter(col("version") <= col("as_of"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("as_of"), col("shard_id")).orderBy(col("version").desc)))
      .filter(col("rn") === 1 && col("action") === "put")
      .select(col("as_of"), col("shard_id"), col("file_hash"))
  }

  /** Manifest diff across releases — the "which shards need re-download"
    * answer q165's docstring promises, and the reason shard-level
    * integrity beats doc-level diffing for distribution: q145 names the
    * DOCS that moved; this names the SHARDS, which is what a consumer's
    * download cache is keyed by. Versions are q145's device (v1 drops
    * doc_id % 13 = 0; v2 drops % 17 = 0 and uppercases % 9 = 0), each
    * packed over ITS OWN doc stream — so one upstream removal shifts
    * every later shard boundary and the diff honestly shows the blast
    * radius of an early edit (the known trade of offset-packed shards;
    * content-defined chunking would localize it, at the cost of the
    * exact token-budget guarantee). Statuses: added / removed /
    * changed / unchanged by (content_hash, n_docs, total_tokens). */
  val q167ManifestDiff: QueryDef = sql(
    "q167_manifest_diff",
    s"""WITH ${manifestCteSql("(SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0)", "1")},
       |${manifestCteSql(
      "(SELECT doc_id, CASE WHEN doc_id % 9 = 0 THEN upper(text) ELSE text END AS text FROM documents WHERE doc_id % 17 <> 0)",
      "2")}
       |SELECT COALESCE(a.shard_id, b.shard_id) AS shard_id,
       |  CASE WHEN a.shard_id IS NULL THEN 'added'
       |       WHEN b.shard_id IS NULL THEN 'removed'
       |       WHEN a.content_hash = b.content_hash AND a.n_docs = b.n_docs
       |            AND a.total_tokens = b.total_tokens THEN 'unchanged'
       |       ELSE 'changed' END AS status,
       |  COALESCE(a.n_docs, 0) AS n_docs_old, COALESCE(b.n_docs, 0) AS n_docs_new
       |FROM m1 a FULL OUTER JOIN m2 b ON b.shard_id = a.shard_id
       |ORDER BY shard_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val v1 = docs.filter(col("doc_id") % 13 =!= 0).select(col("doc_id"), col("text"))
    val v2 = docs.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 0, upper(col("text"))).otherwise(col("text")).as("text"))
    val a = manifestOf(v1).select(col("shard_id"), col("n_docs").as("nd_a"),
      col("total_tokens").as("tt_a"), col("content_hash").as("ch_a"))
    val b = manifestOf(v2).select(col("shard_id"), col("n_docs").as("nd_b"),
      col("total_tokens").as("tt_b"), col("content_hash").as("ch_b"))
    a.join(b, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        when(col("nd_a").isNull, "added")
          .when(col("nd_b").isNull, "removed")
          .when(col("ch_a") === col("ch_b") && col("nd_a") === col("nd_b") &&
            col("tt_a") === col("tt_b"), "unchanged")
          .otherwise("changed").as("status"),
        coalesce(col("nd_a"), lit(0L)).as("n_docs_old"),
        coalesce(col("nd_b"), lit(0L)).as("n_docs_new"))
      .orderBy(col("shard_id"))
  }

  /** Heavy hitters via the Misra-Gries frequent-items sketch
    * ([[graft.functions.HeavyHitters]]): q22's exact top-k needs a
    * corpus-wide (word → count) shuffle; the sketch streams every token
    * through 64 bounded counters per partition and merges kilobyte
    * buffers — the sketch face of exact word frequency, like q48/q93
    * (HLL) for distinct and q91 for percentiles. Estimates are
    * stream-order-dependent (inherent to MG), so the contract entry is
    * rows-only; HeavyHittersSpec pins the three MG guarantees against
    * q22's exact counts, and the CENTRAL one rides the output as
    * columns: per surfaced word the estimate, its exact count, and the
    * MG slack N/k — within_bound asserts est ≤ exact ≤ est + N/k row
    * by row, driver-visible without a hash. (The exact-count join is
    * the audit face — 10 words semi-joined against the token stream —
    * production serves the sketch alone.) */
  val q102HeavyHitters: QueryDef = QueryDef.rowsOnly(
    "q102_heavy_hitters") { (s, dir) =>
    val mg = udaf(graft.functions.HeavyHitters,
      org.apache.spark.sql.Encoders.STRING)
    val words = Tables.fanOut(Tables.documents(s, dir))
      .select(explode(split(col("text"), " ")).as("word"))
    val top = words
      .agg(mg(col("word")).as("sketch"))
      .select(explode(col("sketch")).as(Seq("word", "est_count")))
      .orderBy(col("est_count").desc, col("word"))
      .limit(10)
    val stats = words.agg(count(lit(1)).as("n_tokens"))
    val exact = words.join(broadcast(top.select(col("word"))), "word")
      .groupBy(col("word")).agg(count(lit(1)).as("exact_count"))
    top.join(exact, "word").crossJoin(broadcast(stats))
      .select(col("word"), col("est_count"), col("exact_count"),
        expr("n_tokens div 64").as("mg_slack"),
        (col("est_count") <= col("exact_count") &&
          col("exact_count") <= col("est_count") + expr("n_tokens div 64"))
          .as("within_bound"))
      .orderBy(col("est_count").desc, col("word"))
  }

  /** Quality-weighted deterministic sampling: each document survives
    * with probability equal to its own q25 quality score — the
    * curriculum-building sampler (upweight clean text, keep a trickle of
    * everything) — decided by md5-hash fraction, not rand(): the sample
    * is reproducible run-to-run, engine-to-engine, and JOIN-stable (the
    * same doc always decides the same way), which is what makes it
    * auditable and the oracle able to hash-match the SELECTED SET, not
    * just its size. Pure per-row arithmetic — zero shuffles before the
    * output sort; at 100 TB it is a scan-level filter like q68. */
  val q107QualitySample: QueryDef = sql(
    "q107_quality_sample",
    """SELECT doc_id, lang, quality FROM (
      |  SELECT doc_id, lang,
      |    (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |      * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |      * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) AS quality,
      |    CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) / 65536.0 AS frac
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents))
      |WHERE frac < quality
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docsWithTokens(s, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", expr("size(filter(toks, x -> x = 'the' OR x = 'a'))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .withColumn("quality",
        (col("n_uniq").cast("double") / col("n_tokens")) *
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
          least(lit(1.0), col("n_tokens").cast("double") / 50.0))
      .withColumn("frac", expr(
        "CAST(conv(substring(md5(concat('sample:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS INT) / 65536.0"))
      .filter(col("frac") < col("quality"))
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Contingency analysis: lang × source observed vs expected counts
    * with per-cell chi-square contributions — the independence test
    * behind "does corpus composition drift by source?". Observed cells,
    * row totals, and column totals are three hash aggregates over exact
    * integers; expected = rowTot·colTot/N and the contribution are one
    * double expression evaluated identically in both engines (every
    * input < 2⁵³, so the casts are exact). Emitting per-CELL rows — not
    * a float SUM of contributions — keeps the result order-independent
    * and hash-verifiable; the scalar statistic is a trivial ordered fold
    * for the consumer. */
  val q110Contingency: QueryDef = sql(
    "q110_contingency",
    """WITH o AS (SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, SUM(obs) AS rt FROM o GROUP BY 1),
      |c AS (SELECT source, SUM(obs) AS ct FROM o GROUP BY 1),
      |n AS (SELECT SUM(obs) AS total FROM o)
      |SELECT o.lang, o.source, o.obs,
      |  CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE) / CAST(n.total AS DOUBLE) AS expected,
      |  (CAST(o.obs AS DOUBLE) - CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE) / CAST(n.total AS DOUBLE))
      |    * (CAST(o.obs AS DOUBLE) - CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE) / CAST(n.total AS DOUBLE))
      |    / (CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE) / CAST(n.total AS DOUBLE)) AS chi2_contrib
      |FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
      |ORDER BY lang, source""".stripMargin) { (s, dir) =>
    val o = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("obs")).cachedStageBoundary
    val r = o.groupBy(col("lang")).agg(sum(col("obs")).as("rt"))
    val c = o.groupBy(col("source")).agg(sum(col("obs")).as("ct"))
    val n = o.agg(sum(col("obs")).as("total"))
    val e = col("rt").cast("double") * col("ct").cast("double") /
      col("total").cast("double")
    val dev = col("obs").cast("double") - e
    o.join(broadcast(r), "lang").join(broadcast(c), "source").crossJoin(n)
      .select(col("lang"), col("source"), col("obs"),
        e.as("expected"), (dev * dev / e).as("chi2_contrib"))
      .orderBy(col("lang"), col("source"))
  }

  /** The per-doc gate prefix of the corpus build, shared verbatim by the
    * batch capstone (q123) and its streaming face
    * ([[graft.ops.StreamingOps.corpusBuildStream]]) so the two can't
    * drift: tokenize + length ≥ 5, repetition gate (q117's Gopher
    * thresholds), quality gate (q107's score ≥ 0.3), eval-set exclusion
    * (doc_id % 50). Input needs (doc_id, text); output keeps the input
    * columns plus `toks`. Purely per-doc — scan-level at any scale, and
    * order-independent, which is what makes the streaming face's
    * per-trigger application equal to the batch's corpus-wide one. */
  private[graft] def curationGates(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 5)
    val repOk = repetitionMetrics(base)
      .filter(!col("repetitive")).select(col("doc_id"))
    // the quality gate (q107's score) is a pure per-row predicate, so it
    // rides the scan as a filter — only repOk needs a join (its gram
    // aggregates are per-doc but not per-row)
    val nTok = col("n_tokens_gate")
    val qual = (size(array_distinct(col("toks"))).cast("double") / nTok) *
      (lit(1.0) - expr("size(filter(toks, x -> x = 'the' OR x = 'a'))").cast("double") / nTok) *
      least(lit(1.0), nTok.cast("double") / 50.0)
    base.filter(col("doc_id") % 50 =!= 0)
      .withColumn("n_tokens_gate", size(col("toks")))
      .filter(qual >= 0.3)
      .drop("n_tokens_gate")
      .join(repOk, "doc_id")
  }

  /** The round-4 capstone: a full pretraining-corpus build as ONE query —
    * repetition gate (q117's Gopher thresholds) ∧ quality gate (q107's
    * score ≥ 0.3) → eval-set exclusion → exact dedup (keep-lowest-id per
    * text hash) → decontamination (drop train docs with > 0.5 5-gram
    * overlap against the eval set — q116's machinery with the roles
    * swapped) → domain-mixture rebalance (q118's rates over the
    * SURVIVING per-source counts). Emits the final corpus rows, so the
    * hash proves every stage decided identically in both engines — the
    * composability claim (each stage is the already-verified library
    * operator) made checkable end-to-end. Plan shape: per-doc gates are
    * scan-level; dedup is one keyed window; decontamination is the
    * Bloom-prunable gram join; the mixture is a dim-sized broadcast —
    * the whole build is linear scans + bounded-key shuffles at any
    * corpus size. */
  val q123CorpusBuild: QueryDef = sql(
    "q123_corpus_build",
    """WITH base AS (
      |  SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks
      |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |big AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 1), ' ') AS g
      |        FROM base, LATERAL (SELECT unnest(range(1, len(toks))) AS i)),
      |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY 1, 2),
      |bstat AS (SELECT doc_id, MAX(c) AS max_big, CAST(SUM(c) AS BIGINT) AS tot_big
      |          FROM bc GROUP BY 1),
      |five AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS g
      |         FROM base, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)),
      |fstat AS (SELECT doc_id, COUNT(*) AS tot5, COUNT(DISTINCT g) AS uniq5
      |          FROM five GROUP BY 1),
      |rep_ok AS (SELECT b.doc_id FROM bstat b JOIN fstat f USING (doc_id)
      |           WHERE CAST(b.max_big AS DOUBLE) / b.tot_big <= 0.18
      |             AND 1.0 - CAST(f.uniq5 AS DOUBLE) / f.tot5 <= 0.3),
      |qual_ok AS (SELECT doc_id FROM base
      |            WHERE (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |              * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |              * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) >= 0.3),
      |gated AS (SELECT base.* FROM base
      |          JOIN rep_ok USING (doc_id) JOIN qual_ok USING (doc_id)
      |          WHERE doc_id % 50 <> 0),
      |ded AS (SELECT * FROM (
      |          SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |          FROM gated) WHERE rn = 1),
      |evalg AS (SELECT DISTINCT array_to_string(list_slice(toks, i, i + 4), ' ') AS g
      |          FROM (SELECT string_split(text, ' ') AS toks FROM documents
      |                WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 5) t,
      |               LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)),
      |dg AS (SELECT DISTINCT d.doc_id, array_to_string(list_slice(d.toks, i, i + 4), ' ') AS g
      |       FROM ded d, LATERAL (SELECT unnest(range(1, len(d.toks) - 3)) AS i)),
      |ov AS (SELECT dg.doc_id, COUNT(*) AS n_g,
      |         SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      |       FROM dg LEFT JOIN evalg e USING (g) GROUP BY 1),
      |clean AS (SELECT d.* FROM ded d JOIN ov USING (doc_id)
      |          WHERE CAST(ov.n_hit AS DOUBLE) / ov.n_g <= 0.5),
      |c AS (SELECT source, (CAST(substr(source, 4) AS INT) % 4) + 1 AS weight,
      |             COUNT(*) AS n_docs
      |      FROM clean GROUP BY 1),
      |m AS (SELECT MIN(CAST(n_docs AS DOUBLE) / weight) AS cap FROM c),
      |r AS (SELECT source, LEAST(1.0, weight * m.cap / n_docs) AS rate FROM c, m)
      |SELECT cl.doc_id, cl.lang, cl.source,
      |  CAST(len(cl.toks) AS BIGINT) AS n_tokens
      |FROM clean cl JOIN r USING (source)
      |WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) / 65536.0 < r.rate
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val clean = cleanCorpusStage(s, dir).stageBoundary
    remixSources(clean, expr("(CAST(substring(source, 4) AS INT) % 4) + 1"))
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The shared gate → exact-dedup → decontaminate prefix of the corpus
    * capstones (q123/q151): `ded` (gated, exact-dedup'd docs) is
    * materialized at a stage boundary inside (it feeds the
    * contamination gram chain AND the survivor join); the returned
    * `clean` relation is NOT yet materialized — each capstone puts its
    * own boundary behind it. Exposed `private[graft]` so PlanSpec pins
    * the bloom probe on THIS exact pre-boundary plan (ADVICE r10: the
    * probe assertion previously ran on a separately constructed
    * decontaminate call, which could drift from what the queries run).
    *
    * ded/clean each feed ≥2 consumers — materialize, or the gate/dedup
    * prefix runs once per consumer. Eager stage boundaries, not
    * persists (r10): a persist keeps the full logical lineage under
    * every reference (q123's plan reached 34 parquet scans / 1.1k
    * lines; q151's 29.8k lines), and parallel-stage consumers race the
    * lazy cache. The boundary truncates each stage to a LogicalRDD. */
  private[graft] def cleanCorpusStage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gated = curationGates(Tables.fanOut(Tables.documents(s, dir)))
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val ded = gated.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .stageBoundary
    val evalDocs = Tables.documents(s, dir).filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    // capstone direction: huge scored corpus, small eval reference — the
    // reference-gram Bloom persists across runs, keyed by eval content
    ded.join(
      decontaminate(ded.select(col("doc_id"), col("text")), evalDocs,
          bloomState = Some(StateStore.key("evalbloom_v1", evalDocs)))
        .filter(!col("contaminated")).select(col("doc_id")), "doc_id")
  }

  /** Deterministic negative sampling — the contrastive-pair builder (one
    * anchor, K pseudo-random non-matching docs) every embedding/reranker
    * training set needs. Negative picks derive from md5 of
    * (anchor, slot), not rand(): reproducible run-to-run and
    * engine-to-engine (the q68/q107 device), join-stable, and auditable —
    * the oracle hash-matches the PAIRS, not just their count. Picks
    * land in id space via `frac × N` (the fixture's ids are dense
    * 0..N-1; production keeps a dense surrogate id for exactly this
    * purpose — the standard trick, since rejection loops don't
    * distribute). Self-collisions drop; slot j keeps the pair
    * reproducible even after filters upstream. Plan shape: one scalar
    * count broadcast, a 4-way per-row explode on the (tiny) anchor set,
    * then one equi-join back to the corpus — shuffle bounded by
    * anchors × K, never corpus × corpus. */
  val q121NegativeSampling: QueryDef = sql(
    "q121_negative_sampling",
    """WITH n AS (SELECT COUNT(*) AS total FROM documents),
      |qd AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
      |cand AS (
      |  SELECT q.doc_id, CAST(j AS INT) AS j,
      |    CAST(FLOOR(CAST(('0x' || substr(md5('neg:' || CAST(q.doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
      |         / 4294967296.0 * n.total) AS BIGINT) AS neg_id
      |  FROM qd q, n, LATERAL (SELECT unnest(range(0, 4)) AS j))
      |SELECT c.doc_id, c.j, c.neg_id, d.lang AS neg_lang, d.source AS neg_source
      |FROM cand c JOIN documents d ON d.doc_id = c.neg_id
      |WHERE c.neg_id != c.doc_id
      |ORDER BY c.doc_id, c.j""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val total = docs.agg(count(lit(1)).as("total"))
    val cand = docs.filter(col("doc_id") % 10 === 0).select(col("doc_id"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("j"), col("total"))
      .select(col("doc_id"), col("j"),
        expr("""CAST(FLOOR(CAST(conv(substring(md5(concat('neg:', CAST(doc_id AS STRING), ':', CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT)
               |     / 4294967296.0D * total) AS BIGINT)""".stripMargin).as("neg_id"))
      .filter(col("neg_id") =!= col("doc_id"))
    cand.join(docs.select(col("doc_id").as("neg_id"), col("lang").as("neg_lang"),
        col("source").as("neg_source")), "neg_id")
      .select(col("doc_id"), col("j"), col("neg_id"), col("neg_lang"), col("neg_source"))
      .orderBy(col("doc_id"), col("j"))
  }

  /** Benchmark decontamination — the n-gram-overlap check every serious
    * training-data pipeline runs before evaluation (the GPT-3 paper's
    * 13-gram dedup, The Pile's eval-overlap audit): for each EVAL doc
    * (`doc_id % 50 = 0` stands in for the benchmark set), the fraction
    * of its distinct word-5-grams that appear anywhere in the TRAIN
    * corpus (the rest), plus a contamination flag at > 0.5 overlap.
    *
    * Plan shape, built for the 100 TB asymmetry (train corpus huge, eval
    * set tiny): the train side is reduced to DISTINCT grams *after being
    * pruned in its scan stage by a Bloom filter of the eval grams* — the
    * [[graft.functions.BloomPrune]] operator composed into a pipeline.
    * Only train grams that might be eval grams survive to the distinct's
    * exchange (a ~1.2 MB filter per million eval grams does the work a
    * corpus-sized shuffle would otherwise); Bloom false positives die in
    * the exact gram equi-join, so the answer is bit-identical to the
    * oracle's plain formulation. Per-doc totals then come from one
    * aggregate over the eval grams with a left-semi hit marker. Cost
    * scales with the EVAL set plus one pruned pass over train — the
    * corpus is never pairwise-compared. */
  /** Library form of the decontamination audit: per-`evalDocs` row, the
    * fraction of its distinct word-`n`-grams appearing anywhere in
    * `trainDocs`, with a `contaminated` flag at > `threshold` overlap.
    * Both inputs are (doc_id, text) frames. The train gram stream is
    * Bloom-pruned by the eval gram set inside its scan stage; false
    * positives die in the exact gram join, so pruning never changes the
    * answer (q116's oracle proves it). */
  def contamination(evalDocs: DataFrame, trainDocs: DataFrame,
                    n: Int = 5, threshold: Double = 0.5): DataFrame =
    contaminationWithHandle(evalDocs, trainDocs, n, threshold)._1

  /** [[contamination]] plus the persisted eval-gram handle, for callers
    * that invoke it repeatedly (the streaming corpus build) and must
    * unpersist per trigger — same leak-avoidance contract as
    * `Dedup.dedupeBatchWithHandle`. `bloomState` reuses the eval-gram
    * Bloom filter across runs via [[graft.sources.StateStore.bytes]];
    * the caller must key it by the eval set's content — pruning with a
    * filter built from a DIFFERENT eval set would be silently wrong. */
  private[graft] def contaminationWithHandle(
      evalDocs: DataFrame, trainDocs: DataFrame,
      n: Int, threshold: Double,
      bloomState: Option[StateStore.StateKey] = None): (DataFrame, DataFrame) = {
    def grams(docs: DataFrame): DataFrame = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))")).as("g"))
      .distinct()
    val evalG = grams(evalDocs).cachedStageBoundary
    graft.functions.BloomPrune.register(evalDocs.sparkSession)
    def build = graft.functions.BloomPrune.buildFilter(
      evalG.select(col("g")).distinct(), "g",
      expectedItems = 1L << 20, fpp = 0.01)
    val bf = bloomState match {
      case Some(key) => StateStore.bytes(key)(build)
      case None => build
    }
    val trainPruned =
      // empty scored side → empty filter → nothing can hit; keep the
      // same (g)-only shape as the pruned path or the downstream
      // groupBy(doc_id) turns ambiguous
      if (bf == null) grams(trainDocs).select(col("g")).limit(0)
      else grams(trainDocs)
        .filter(call_function("graft_might_contain", lit(bf), xxhash64(col("g"))))
        .select(col("g")).distinct()
    val res = evalG.join(trainPruned.withColumn("hit", lit(1)), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams")).as("overlap"),
        (col("n_hit").cast("double") / col("n_grams") > threshold).as("contaminated"))
    (res, evalG)
  }

  /** UniMax source allocation (Chung et al. 2023, arXiv:2304.09151) —
    * the fairness-driven complement of q118's proportional rebalance:
    * given a total token budget and a per-source EPOCH CAP, small
    * sources are never repeated past the cap and the freed budget
    * spreads equally over the rest (the paper's "fairer sampling for
    * multilingual pretraining"). Greedy water-filling has a closed
    * window-algebra form: sort sources ascending by cap; a source is
    * capped iff its cap fits inside an equal split of the budget
    * remaining at its turn (`cap_j · (k−j+1) ≤ B − prefix_j` — with
    * ascending caps the capped set is a prefix), everyone else splits
    * the remainder via exact integer floor division.
    *
    * Scale posture: the ONLY corpus-scale step is the per-source token
    * count (one map-side-combined agg). Everything after — the sort,
    * the running prefix, the cap decision, the allocation — is window
    * algebra over the SOURCE DIMENSION (tens of rows; the
    * un-partitioned window is dimension-sized by construction, q118's
    * broadcast-rates class, never corpus-keyed). Budget arithmetic is
    * all-integer ((19·t) div 10, not 1.9·t) so both engines agree
    * exactly; the only double is the emitted epochs ratio, an identical
    * IEEE division rounded at 6 dp. */
  def unimaxAllocation(docs: DataFrame, epochCap: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("ntok"))
      .groupBy(col("source")).agg(sum(col("ntok")).as("n"))
    val tot = c.agg(sum(col("n")).as("t"), count(lit(1)).as("k"))
    val w = Window.orderBy(col("cap"), col("source"))
    val rk = c.crossJoin(broadcast(tot))
      .withColumn("cap", col("n") * epochCap)
      .withColumn("budget", expr("(19 * t) div 10"))
      .withColumn("j", row_number().over(w))
      .withColumn("prefix", coalesce(
        sum(col("cap")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("is_capped",
        col("cap") * (col("k") - col("j") + 1) <= col("budget") - col("prefix"))
    val spent = rk.agg(
      coalesce(sum(when(col("is_capped"), col("cap"))), lit(0L)).as("spent"),
      coalesce(sum(when(col("is_capped"), lit(1L))), lit(0L)).as("kk"))
    rk.crossJoin(broadcast(spent))
      .withColumn("allocated", when(col("is_capped"), col("cap"))
        .otherwise(expr("(budget - spent) div (k - kk)")))
      .select(col("source"), col("n").as("n_tokens"), col("cap"),
        col("allocated"),
        round(col("allocated").cast("double") / col("n"), 6).as("epochs"),
        col("is_capped"))
  }

  /** Contract face of [[unimaxAllocation]]: 2-epoch cap, budget = 1.9×
    * the corpus token count. */
  val q134UnimaxMix: QueryDef = sql(
    "q134_unimax_mix",
    """WITH pd AS (SELECT source, len(string_split(text, ' ')) AS ntok FROM documents),
      |c AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS n FROM pd GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t, COUNT(*) AS k FROM c),
      |base AS (SELECT source, n, 2 * n AS cap, (19 * t) // 10 AS budget, k FROM c, tot),
      |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY cap, source) AS j,
      |         COALESCE(CAST(SUM(cap) OVER (ORDER BY cap, source
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prefix
      |       FROM base),
      |flg AS (SELECT *, cap * (k - j + 1) <= budget - prefix AS is_capped FROM rk),
      |sp AS (SELECT CAST(COALESCE(SUM(CASE WHEN is_capped THEN cap END), 0) AS BIGINT) AS spent,
      |              CAST(COALESCE(SUM(CASE WHEN is_capped THEN 1 END), 0) AS BIGINT) AS kk
      |       FROM flg)
      |SELECT source, n AS n_tokens, cap,
      |  CASE WHEN is_capped THEN cap ELSE (budget - spent) // (k - kk) END AS allocated,
      |  round(CAST(CASE WHEN is_capped THEN cap
      |             ELSE (budget - spent) // (k - kk) END AS DOUBLE) / n, 6) AS epochs,
      |  is_capped
      |FROM flg, sp
      |ORDER BY source""".stripMargin) { (s, dir) =>
    unimaxAllocation(Tables.documents(s, dir)).orderBy(col("source"))
  }

  /** Deterministic source-interleaved training order — the schedule a
    * data loader materializes from a mixture decision (q134's
    * allocations made concrete): classic STRIDE SCHEDULING (Waldspurger
    * & Weihl, OSDI'94, the deterministic counterpart of temperature
    * sampling) — source s with epoch rate ρ_s emits its k-th doc at
    * virtual time (k + φ_s)/ρ_s, so sources interleave proportionally
    * to their allocated rates, a low-rate source spreads sparsely
    * instead of clumping, and the md5-derived phase φ_s de-synchronizes
    * equal-rate sources reproducibly (the q68/q107 device — no rand()).
    * Ordering by virtual time IS the training order; both engines
    * compute the identical IEEE double from exact integers, emission is
    * rounded at 6 dp, ranking on raw with doc_id ties (q99 discipline).
    *
    * Scale posture: rates ride the q134 water-filling (corpus agg +
    * dim-sized windows, broadcast back); the per-source rank is a
    * window PARTITIONED by source — distributed; no corpus-global
    * window anywhere, the global order exists only as the sort key. */
  val q139MixSchedule: QueryDef = sql(
    "q139_mix_schedule",
    """WITH pd AS (SELECT source, len(string_split(text, ' ')) AS ntok FROM documents),
      |c AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS n FROM pd GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t, COUNT(*) AS k FROM c),
      |base AS (SELECT source, n, 2 * n AS cap, (19 * t) // 10 AS budget, k FROM c, tot),
      |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY cap, source) AS j,
      |         COALESCE(CAST(SUM(cap) OVER (ORDER BY cap, source
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prefix
      |       FROM base),
      |flg AS (SELECT *, cap * (k - j + 1) <= budget - prefix AS is_capped FROM rk),
      |sp AS (SELECT CAST(COALESCE(SUM(CASE WHEN is_capped THEN cap END), 0) AS BIGINT) AS spent,
      |              CAST(COALESCE(SUM(CASE WHEN is_capped THEN 1 END), 0) AS BIGINT) AS kk
      |       FROM flg),
      |rates AS (SELECT source, n,
      |            CAST(CASE WHEN is_capped THEN cap
      |                 ELSE (budget - spent) // (k - kk) END AS DOUBLE) / n AS rho,
      |            CAST(('0x' || substr(md5('phase:' || source), 1, 8)) AS BIGINT) / 4294967296.0 AS phi
      |          FROM flg, sp),
      |sched AS (SELECT d.doc_id, d.source,
      |            CAST(ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.doc_id) - 1 AS BIGINT) AS kth,
      |            r.rho, r.phi
      |          FROM documents d JOIN rates r USING (source))
      |SELECT doc_id, source, kth, ROUND((kth + phi) / rho, 6) AS vtime
      |FROM sched
      |ORDER BY (kth + phi) / rho, doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val rates = unimaxAllocation(docs)
      .select(col("source"),
        (col("allocated").cast("double") / col("n_tokens")).as("rho"),
        (expr("CAST(conv(substring(md5(concat('phase:', source)), 1, 8), 16, 10) AS BIGINT)") /
          lit(4294967296.0)).as("phi"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(rates), Seq("source"))
      .withColumn("kth", (row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))) - 1).cast("long"))
      .withColumn("vtraw", (col("kth") + col("phi")) / col("rho"))
      .orderBy(col("vtraw"), col("doc_id"))
      .select(col("doc_id"), col("source"), col("kth"),
        round(col("vtraw"), 6).as("vtime"))
  }

  /** Decontamination oriented for the CAPSTONE's asymmetry — a huge
    * scored corpus against a SMALL reference (eval/benchmark) set; the
    * mirror of [[contamination]], which scores a small eval set against
    * a huge train reference. Same output contract
    * (doc_id, n_grams, n_hit, overlap, contaminated), hash-identical
    * values; only the plan changes:
    *
    *   - per-doc distinct-gram totals come from `array_distinct` ON THE
    *     SCAN (all grams of a doc live in its own row) — the corpus
    *     gram stream never shuffles for a distinct;
    *   - candidate grams are pruned IN the scan stage by a Bloom filter
    *     of the reference grams — reusable across runs via `bloomState`
    *     ([[graft.sources.StateStore.bytes]], keyed by the reference
    *     set's content) so the build cost is paid once per
    *     eval-set version, the GPT-3-style persisted decontamination
    *     filter;
    *   - survivors exact-join the reference gram relation (false
    *     positives die there — pruning never changes the answer), and
    *     the only corpus-keyed shuffle is the map-side-combined hit
    *     count per doc.
    */
  private[graft] def decontaminate(scored: DataFrame, refDocs: DataFrame,
      n: Int = 5, threshold: Double = 0.5,
      bloomState: Option[StateStore.StateKey] = None): DataFrame =
    decontaminateWithHandle(scored, refDocs, n, threshold, bloomState)._1

  /** [[decontaminate]] plus the persisted reference-gram handle (same
    * per-trigger unpersist contract as [[contaminationWithHandle]]). */
  private[graft] def decontaminateWithHandle(
      scored: DataFrame, refDocs: DataFrame,
      n: Int, threshold: Double,
      bloomState: Option[StateStore.StateKey]): (DataFrame, DataFrame) = {
    val s = scored.sparkSession
    val refG = refDocs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= n)
      .select(explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))")).as("g"))
      .distinct().cachedStageBoundary
    graft.functions.BloomPrune.register(s)
    def build = graft.functions.BloomPrune.buildFilter(
      refG, "g", expectedItems = 1L << 20, fpp = 0.01)
    val bf = bloomState match {
      case Some(key) => StateStore.bytes(key)(build)
      case None => build
    }
    val base = scored.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= n)
      .withColumn("garr", expr(
        s"array_distinct(transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n))))"))
    val totals = base.select(col("doc_id"), size(col("garr")).cast("long").as("n_grams"))
    val hits =
      if (bf == null) // empty reference: nothing can hit
        totals.select(col("doc_id"), lit(0L).as("n_hit")).limit(0)
      else base.select(col("doc_id"), explode(col("garr")).as("g"))
        .filter(call_function("graft_might_contain", lit(bf), xxhash64(col("g"))))
        .join(refG, "g")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    val res = totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams")).as("overlap"),
        (col("n_hit").cast("double") / col("n_grams") > threshold).as("contaminated"))
    (res, refG)
  }

  /** Repetition-based quality metrics (the Gopher repetition rules, Rae
    * et al. 2021 §A1.1): per document, the share of word-bigram
    * occurrences taken by the single most frequent bigram and the
    * fraction of word-5-gram occurrences that are repeats of an earlier
    * 5-gram in the same document — the two signals that catch boilerplate
    * and degenerate repetition that per-token ratios (q25) miss. A doc is
    * flagged `repetitive` above the paper's thresholds (0.18 / 0.30;
    * threshold firing is spec-pinned on planted degenerate docs).
    *
    * Plan shape: explode grams → two hash aggregates keyed on
    * (doc_id, gram) then doc_id — map-side combined, shuffle bounded by
    * distinct grams per doc, never corpus-global state; the doc_id-keyed
    * join of the two metric frames co-partitions. Every metric is a
    * single double division of exact integers, so both engines agree
    * bitwise. */
  val q117Repetition: QueryDef = sql(
    "q117_repetition",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |big AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 1), ' ') AS g
      |        FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      |        WHERE len(toks) >= 2),
      |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY 1, 2),
      |bstat AS (SELECT doc_id, MAX(c) AS max_big, CAST(SUM(c) AS BIGINT) AS tot_big
      |          FROM bc GROUP BY 1),
      |five AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS g
      |         FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
      |         WHERE len(toks) >= 5),
      |fstat AS (SELECT doc_id, COUNT(*) AS tot5, COUNT(DISTINCT g) AS uniq5
      |          FROM five GROUP BY 1)
      |SELECT b.doc_id,
      |  CAST(b.max_big AS DOUBLE) / b.tot_big AS top_bigram_share,
      |  1.0 - CAST(f.uniq5 AS DOUBLE) / f.tot5 AS dup_5gram_frac,
      |  (CAST(b.max_big AS DOUBLE) / b.tot_big > 0.18
      |   OR 1.0 - CAST(f.uniq5 AS DOUBLE) / f.tot5 > 0.3) AS repetitive
      |FROM bstat b JOIN fstat f USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    repetitionMetrics(docsWithTokens(s, dir)).orderBy(col("doc_id"))
  }

  /** Library form of q117: per-doc repetition metrics over any frame with
    * (doc_id, toks array<string>). */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("toks"))
    val big = t.filter(size(col("toks")) >= 2).select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', slice(toks, i, 2)))")).as("g"))
    val bstat = big.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("max_big"), sum(col("c")).as("tot_big"))
    val five = t.filter(size(col("toks")) >= 5).select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(toks) - 4), i -> concat_ws(' ', slice(toks, i, 5)))")).as("g"))
    val fstat = five.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tot5"), countDistinct(col("g")).as("uniq5"))
    val share = col("max_big").cast("double") / col("tot_big")
    val dup = lit(1.0) - col("uniq5").cast("double") / col("tot5")
    bstat.join(fstat, "doc_id")
      .select(col("doc_id"), share.as("top_bigram_share"), dup.as("dup_5gram_frac"),
        (share > 0.18 || dup > 0.3).as("repetitive"))
  }

  /** Per-source sampling rates for [[remixSources]]: the largest corpus
    * achievable at the target mix keeps `weight_s · cap` docs of source s,
    * where `cap = min_s(n_s / weight_s)` — the binding source keeps
    * everything, every other source down-samples to match the ratio. */
  def sourceRates(docs: DataFrame, weight: Column): DataFrame = {
    val c = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", weight)
      // divide in DOUBLE (ANSI integral division throws on zero) and
      // keep zero/negative weights out of the cap: such a source gets
      // rate 0 — excluded from the mix, not an error
      .withColumn("wd", col("weight").cast("double"))
    val cap = c.filter(col("wd") > 0)
      .agg(min(col("n_docs").cast("double") / col("wd")).as("cap"))
    c.crossJoin(broadcast(cap))
      .select(col("source"), col("weight"), col("n_docs"),
        least(lit(1.0), col("wd") * col("cap") / col("n_docs").cast("double")).as("rate"))
  }

  /** Domain-mixture rebalancing: deterministically down-sample each
    * source to hit declared relative target weights (the data-mixing step
    * of every pretraining corpus — "2 parts web, 1 part forums, ..."),
    * keeping the largest corpus that satisfies the mix exactly in
    * expectation. Per-doc keep decisions reuse q68/q107's md5-fraction
    * device, so the sampled set is reproducible, engine-identical, and
    * join-stable. One dimension-sized aggregate (rates) broadcast back
    * into a scan-level filter — no corpus shuffle at any scale. */
  def remixSources(docs: DataFrame, weight: Column): DataFrame =
    docs.join(broadcast(sourceRates(docs, weight)), "source")
      .filter(expr(
        "CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS INT) / 65536.0")
        < col("rate"))

  /** Contract face of [[remixSources]]: target weight of `srcN` is
    * `(N % 4) + 1`, output is the per-source audit (declared weight,
    * original size, computed rate, achieved kept count). The kept counts
    * hash-match only if both engines select the exact same doc set. */
  val q118SourceMix: QueryDef = sql(
    "q118_source_mix",
    """WITH c AS (SELECT source, (CAST(substr(source, 4) AS INT) % 4) + 1 AS weight,
      |                  COUNT(*) AS n_docs
      |           FROM documents GROUP BY 1),
      |m AS (SELECT MIN(CAST(n_docs AS DOUBLE) / weight) AS cap FROM c),
      |r AS (SELECT source, weight, n_docs, LEAST(1.0, weight * m.cap / n_docs) AS rate
      |      FROM c, m),
      |k AS (SELECT d.source, COUNT(*) AS n_kept
      |      FROM documents d JOIN r USING (source)
      |      WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) / 65536.0 < r.rate
      |      GROUP BY 1)
      |SELECT r.source, r.weight, CAST(r.n_docs AS BIGINT) AS n_docs, r.rate,
      |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
      |FROM r LEFT JOIN k USING (source)
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val w = expr("(CAST(substring(source, 4) AS INT) % 4) + 1")
    val rates = sourceRates(docs, w)
    val kept = remixSources(docs, w).groupBy(col("source")).agg(count(lit(1)).as("kept"))
    rates.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("weight"), col("n_docs"), col("rate"),
        coalesce(col("kept"), lit(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Reference-LM perplexity gate (the CCNet filter, Wenzek et al. 2020
    * arXiv:1911.00359): train an add-one-smoothed bigram language model
    * on a TRUSTED reference subset, then score every corpus document by
    * its average per-bigram negative log-likelihood — documents far from
    * the reference distribution (boilerplate, wrong domain, wrong
    * language) land in the high-perplexity tail and are flagged. The
    * model is three count relations: bigram counts c(w1,w2), context
    * counts c(w1) (bigram-position-1 counts, so probabilities normalize:
    * Σ_w2 (c(w1,w2)+1)/(c(w1)+V) = 1), and the reference vocabulary size
    * V; P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V), uniform 1/V for unseen
    * contexts — no backoff special-cases, one formula for every bigram.
    *
    * Scale posture: the LM is reference-sized, not corpus-sized — both
    * count relations and V broadcast; scoring is one scan of the corpus
    * bigram stream with two broadcast joins and a doc-keyed average, no
    * corpus shuffle. ln sums are emitted rounded to 6 dp with the flag
    * computed ON the rounded value (the q99 discipline: double addition
    * order and 1-ulp libm divergence live below the rounding). */
  def lmPerplexity(docs: DataFrame, ref: DataFrame,
                   threshold: Double = 3.45): DataFrame = {
    def bi(d: DataFrame): DataFrame = d
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val refBi = bi(ref)
    val c2 = refBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = refBi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = ref.select(explode(split(col("text"), " ")).as("word"))
      .agg(countDistinct(col("word")).as("v"))
    val nll = -log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
      (coalesce(col("c1"), lit(0L)).cast("double") + col("v")))
    bi(docs)
      .join(broadcast(c2), Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), avg(nll).as("raw"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("raw"), 6).as("avg_nll"),
        (round(col("raw"), 6) > threshold).as("high_perplexity"))
  }

  /** Contract face of [[lmPerplexity]]: the trusted reference is the
    * `lang = 'en'` subset (CCNet's Wikipedia stand-in), scored over the
    * whole corpus at threshold 3.45. */
  /** Shared LM oracle chain (q128/q181/q189): reference bigram counts
    * over the 'en' slice plus the per-doc raw average NLL, ending at
    * CTE `nllagg(doc_id, n_bigrams, rawnll)`. Callers must define CTE
    * `t(doc_id, lang, toks)` first. One definition so a smoothing or
    * reference-slice change cannot desynchronize the three oracles. */
  private lazy val lmNllSql =
    """refbi AS (
      |  SELECT toks[i] AS w1, toks[i + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      |  WHERE lang = 'en' AND len(toks) >= 2),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM refbi GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM refbi GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT word) AS v FROM (
      |  SELECT unnest(toks) AS word FROM t WHERE lang = 'en')),
      |docbi AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      |  WHERE len(toks) >= 2),
      |nllagg AS (
      |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    AVG(-ln((COALESCE(c2.c2, 0) + 1.0) / (COALESCE(c1.c1, 0) + v.v))) AS rawnll
      |  FROM docbi d LEFT JOIN c2 ON d.w1 = c2.w1 AND d.w2 = c2.w2
      |    LEFT JOIN c1 ON d.w1 = c1.w1, v
      |  GROUP BY d.doc_id)""".stripMargin

  val q128LmPerplexity: QueryDef = sql(
    "q128_lm_perplexity",
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |$lmNllSql
      |SELECT doc_id, n_bigrams, round(rawnll, 6) AS avg_nll,
      |  round(rawnll, 6) > 3.45 AS high_perplexity
      |FROM nllagg
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    lmPerplexity(docs, docs.filter(col("lang") === "en"))
      .orderBy(col("doc_id"))
  }

  /** Data selection via importance resampling (DSIR, Xie et al. 2023
    * arXiv:2302.03169): pick the corpus subset whose hashed-n-gram
    * distribution matches a TARGET domain. Per doc, the log importance
    * weight is Σ_tokens [ln p_target(b) − ln p_raw(b)] over add-one-
    * smoothed hashed-bucket probabilities p(b) = (c_b+1)/(N+B); sampling
    * without replacement proportional to the weights is the Gumbel-top-k
    * trick, with the Gumbel noise g = −ln(−ln(u)) derived from the
    * q68/q107 md5-fraction device — so the "random" resample is
    * reproducible, engine-identical, and join-stable. `selected` marks
    * the top-`k` docs by (logw + g).
    *
    * Scale posture: both distributions are B-bucket count relations —
    * broadcast; scoring is one corpus token scan + two broadcast joins +
    * a doc-keyed sum; the selection threshold is min-of-top-k
    * (TakeOrdered k rows, never a global sort), broadcast back as a
    * scalar — no corpus-wide window. Doubles are emitted rounded to
    * 6 dp; ranking happens on raw values (the q99 discipline — adjacent
    * order statistics sit ~range/n apart, far above ulp noise). */
  def dsirSelect(docs: DataFrame, target: DataFrame,
                 buckets: Int = 64, k: Int = 100): DataFrame = {
    def tokB(d: DataFrame): DataFrame =
      d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .select(col("doc_id"),
          expr(s"CAST(conv(substring(md5(word), 1, 8), 16, 10) AS BIGINT) % $buckets").as("b"))
    val tok = tokB(docs)
    val raw = tok.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val nr = tok.agg(count(lit(1)).as("nr"))
    val ttok = tokB(target)
    val tgt = ttok.groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val nt = ttok.agg(count(lit(1)).as("nt"))
    val term = log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("nt") + lit(buckets))) -
      log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / (col("nr") + lit(buckets)))
    val lw = tok
      .join(broadcast(tgt), Seq("b"), "left")
      .join(broadcast(raw), Seq("b"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .groupBy(col("doc_id")).agg(sum(term).as("logw"))
    val keyed = lw.withColumn("gk", col("logw") - log(-log(
      (expr("CAST(conv(substring(md5(concat('dsir:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)") + lit(0.5)) /
        lit(4294967296.0))))
    val kth = keyed.orderBy(col("gk").desc, col("doc_id")).limit(k)
      .agg(min(col("gk")).as("kth"))
    keyed.crossJoin(broadcast(kth))
      .select(col("doc_id"), round(col("logw"), 6).as("log_weight"),
        round(col("gk"), 6).as("gumbel_key"), (col("gk") >= col("kth")).as("selected"))
  }

  /** Contract face of [[dsirSelect]]: target domain is the `lang = 'fr'`
    * subset, k = 100 of the 500-doc corpus, 64 hash buckets. */
  val q129DsirSelect: QueryDef = sql(
    "q129_dsir_select",
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |tok AS (SELECT doc_id, CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 64 AS b
      |        FROM (SELECT doc_id, unnest(toks) AS word FROM t)),
      |raw AS (SELECT b, COUNT(*) AS cr FROM tok GROUP BY 1),
      |nr AS (SELECT COUNT(*) AS nr FROM tok),
      |ttok AS (SELECT tok.* FROM tok JOIN t USING (doc_id) WHERE t.lang = 'fr'),
      |tgt AS (SELECT b, COUNT(*) AS ct FROM ttok GROUP BY 1),
      |nt AS (SELECT COUNT(*) AS nt FROM ttok),
      |lw AS (SELECT tok.doc_id,
      |         SUM(ln((COALESCE(tgt.ct, 0) + 1.0) / (nt.nt + 64)) -
      |             ln((COALESCE(raw.cr, 0) + 1.0) / (nr.nr + 64))) AS logw
      |       FROM tok LEFT JOIN tgt USING (b) LEFT JOIN raw USING (b), nt, nr
      |       GROUP BY 1),
      |kb AS (SELECT doc_id, logw,
      |         logw - ln(-ln((CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0)) AS gk
      |       FROM lw),
      |thr AS (SELECT MIN(gk) AS kth FROM (
      |  SELECT gk FROM kb ORDER BY gk DESC, doc_id LIMIT 100))
      |SELECT doc_id, round(logw, 6) AS log_weight, round(gk, 6) AS gumbel_key,
      |  gk >= thr.kth AS selected
      |FROM kb, thr
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    dsirSelect(docs, docs.filter(col("lang") === "fr"))
      .orderBy(col("doc_id"))
  }

  val q116Contamination: QueryDef = sql(
    "q116_contamination",
    """WITH evalg AS (
      |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents WHERE doc_id % 50 = 0) t,
      |       LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
      |  WHERE len(toks) >= 5),
      |traing AS (
      |  SELECT DISTINCT array_to_string(list_slice(toks, i, i + 4), ' ') AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents WHERE doc_id % 50 <> 0) t,
      |       LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
      |  WHERE len(toks) >= 5),
      |hits AS (SELECT e.doc_id,
      |           COUNT(*) AS n_grams,
      |           SUM(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      |         FROM evalg e LEFT JOIN traing t ON t.g = e.g
      |         GROUP BY 1)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |  CAST(n_hit AS BIGINT) AS n_hit,
      |  CAST(n_hit AS DOUBLE) / n_grams AS overlap,
      |  CAST(n_hit AS DOUBLE) / n_grams > 0.5 AS contaminated
      |FROM hits
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    contamination(
        docs.filter(col("doc_id") % 50 === 0),
        docs.filter(col("doc_id") % 50 =!= 0))
      .orderBy(col("doc_id"))
  }

  /** Per-domain document caps — the CommonCrawl-curation step that
    * bounds any one host's contribution to the corpus (a handful of
    * template-heavy domains otherwise dominate a web crawl; LLaMA /
    * RefinedWeb both cap per-registered-domain). Documents rank within
    * their domain by a deterministic keep-preference (longest first,
    * doc_id tiebreak) and only the top `cap` survive.
    *
    * Scale posture: one hash-partitioned window per domain key — the
    * corpus shuffles ONCE on the domain key and WindowGroupLimit keeps
    * only cap rows per domain on BOTH sides of that exchange (the rank
    * is the window's only function precisely so the pushdown fires; a
    * whole-frame count in the same window would force every row through
    * the sort). The domain totals come from a separate map-side-combined
    * aggregate instead, broadcast back onto the dimension-sized survivor
    * set. A skewed mega-domain is exactly the q114 hot-key case: salt
    * the rank by pre-aggregating per-salt counts if one domain exceeds a
    * partition. Emits survivors only, with rank and the domain total. */
  def domainCap(docs: DataFrame, domainCol: Column, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs.withColumn("domain", domainCol)
    val counts = d.groupBy(col("domain")).agg(count(lit(1)).as("n_domain"))
    d.withColumn("rk", row_number().over(
        Window.partitionBy(col("domain"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") <= cap)
      .join(broadcast(counts), Seq("domain"))
      .select(col("domain"), col("doc_id"), col("rk"), col("n_domain"))
  }

  /** Contract face of [[domainCap]]: `source` is the domain, cap 15. */
  val q141DomainCap: QueryDef = sql(
    "q141_domain_cap",
    """WITH r AS (
      |  SELECT source AS domain, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY source) AS n_domain
      |  FROM documents)
      |SELECT domain, doc_id, CAST(rk AS BIGINT) AS rk, n_domain
      |FROM r WHERE rk <= 15
      |ORDER BY domain, rk""".stripMargin) { (s, dir) =>
    domainCap(Tables.fanOut(Tables.documents(s, dir)), col("source"), 15)
      .withColumn("rk", col("rk").cast("long"))
      .orderBy(col("domain"), col("rk"))
  }

  /** Preference-pair construction — the post-training data face:
    * within each (lang, source) group, pair the highest-scoring
    * document (chosen) with the lowest-scoring one (rejected), the
    * shape DPO/RLHF reward-model training consumes. The score is the
    * exact-integer lexical-diversity rate floor(distinct·10⁶/total)
    * so chosen/rejected selection and the margin hash cross-engine;
    * ties break deterministically (score, then doc_id) and groups
    * need ≥ 2 documents to emit a pair.
    *
    * Scale posture: two window ranks over one (lang, source)-keyed
    * shuffle (both directions computed in the SAME window partition —
    * one exchange, two WindowGroupLimit-capped sorts), then a
    * group-keyed self-join of two 1-row-per-group relations. Nothing
    * is corpus-sized after the rank. */
  def preferencePairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("score", expr(
        "CAST(FLOOR(CAST(size(array_distinct(toks)) AS DOUBLE) * 1000000.0D / size(toks)) AS BIGINT)"))
    val w = Window.partitionBy(col("lang"), col("source"))
    val ranked = scored
      .withColumn("top", row_number().over(
        w.orderBy(col("score").desc, col("doc_id"))))
      .withColumn("bot", row_number().over(
        w.orderBy(col("score"), col("doc_id").desc)))
      .withColumn("n_group", count(lit(1)).over(w))
      .filter(col("n_group") >= 2)
    val chosen = ranked.filter(col("top") === 1)
      .select(col("lang"), col("source"),
        col("doc_id").as("chosen_id"), col("score").as("chosen_score"))
    val rejected = ranked.filter(col("bot") === 1)
      .select(col("lang"), col("source"),
        col("doc_id").as("rejected_id"), col("score").as("rejected_score"))
    chosen.join(rejected, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("chosen_id"), col("rejected_id"),
        (col("chosen_score") - col("rejected_score")).as("margin"))
  }

  /** Contract face of [[preferencePairs]]: one pair per (lang, source)
    * cell of the fixture corpus. */
  val q142PreferencePairs: QueryDef = sql(
    "q142_preference_pairs",
    """WITH s AS (
      |  SELECT lang, source, doc_id,
      |    CAST(FLOOR(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      * 1000000.0 / len(string_split(text, ' '))) AS BIGINT) AS score
      |  FROM documents),
      |r AS (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY score DESC, doc_id) AS top,
      |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY score, doc_id DESC) AS bot,
      |    COUNT(*) OVER (PARTITION BY lang, source) AS n_group
      |  FROM s)
      |SELECT c.lang, c.source, c.doc_id AS chosen_id, j.doc_id AS rejected_id,
      |  c.score - j.score AS margin
      |FROM (SELECT * FROM r WHERE top = 1 AND n_group >= 2) c
      |JOIN (SELECT * FROM r WHERE bot = 1 AND n_group >= 2) j
      |  USING (lang, source)
      |ORDER BY lang, source""".stripMargin) { (s, dir) =>
    preferencePairs(Tables.fanOut(Tables.documents(s, dir)))
      .orderBy(col("lang"), col("source"))
  }

  /** Corpus snapshot diff — dataset versioning's core query: given two
    * corpus versions keyed by doc_id, classify every document as
    * added / removed / changed / unchanged by content hash. The
    * pipeline face of "what moved between crawl v1 and crawl v2"
    * (incremental training-data refreshes re-process only
    * added+changed; removed feeds unlearning audits).
    *
    * Scale posture: one full outer join on the id key with md5
    * content fingerprints computed AT THE SCAN (only ids + 32-byte
    * hashes shuffle, never text); the summary is a dimension-sized
    * agg of the statuses. */
  def corpusDiff(old: DataFrame, nw: DataFrame): DataFrame = {
    val o = old.select(col("doc_id"), md5(col("text")).as("oh"))
    val n = nw.select(col("doc_id"), md5(col("text")).as("nh"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("oh").isNull, lit("added"))
          .when(col("nh").isNull, lit("removed"))
          .when(col("oh") === col("nh"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(col("doc_id"), col("status"))
  }

  /** Contract face of [[corpusDiff]]: v1 drops doc_id % 13 = 0, v2
    * drops doc_id % 17 = 0 and upper-cases every doc_id % 9 = 0 text
    * (a deterministic "edit"). */
  val q145CorpusDiff: QueryDef = sql(
    "q145_corpus_diff",
    """WITH o AS (SELECT doc_id, md5(text) AS oh FROM documents WHERE doc_id % 13 <> 0),
      |n AS (SELECT doc_id,
      |        md5(CASE WHEN doc_id % 9 = 0 THEN upper(text) ELSE text END) AS nh
      |      FROM documents WHERE doc_id % 17 <> 0)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.oh IS NULL THEN 'added'
      |       WHEN n.nh IS NULL THEN 'removed'
      |       WHEN o.oh = n.nh THEN 'unchanged'
      |       ELSE 'changed' END AS status
      |FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val v1 = docs.filter(col("doc_id") % 13 =!= 0)
    val v2 = docs.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 9 === 0, upper(col("text"))).otherwise(col("text")))
    corpusDiff(v1, v2).orderBy(col("doc_id"))
  }

  /** The round-5 capstone: the q123 corpus build EXTENDED through the
    * two stages that turn a curated corpus into trainable batches —
    * per-domain caps (q141's operator, composed verbatim: longest-first,
    * cap 8 per source AFTER the mixture rebalance) and cross-document
    * sequence packing (q130's two-pass prefix-sum layout over the capped
    * survivors). One query, one hash: gates → eval exclusion → exact
    * dedup → decontamination → mixture rebalance → domain cap → packed
    * token layout. A divergence in ANY stage re-lays-out every chunk
    * after it, so the emitted (doc, chunk, offset) triples prove the
    * entire nine-operator composition decided identically cross-engine.
    *
    * Plan shape inherits each stage's posture: scan-level gates, one
    * keyed dedup window, Bloom-pruned gram join, broadcast rates, one
    * capped window (WindowGroupLimit), and packing's partitioned
    * running sums with a partition-count-sized offset pass — linear
    * scans + bounded-key shuffles end-to-end. */
  val q151CorpusBuildPack: QueryDef = sql(
    "q151_corpus_build_pack",
    """WITH base AS (
      |  SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks
      |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |big AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 1), ' ') AS g
      |        FROM base, LATERAL (SELECT unnest(range(1, len(toks))) AS i)),
      |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY 1, 2),
      |bstat AS (SELECT doc_id, MAX(c) AS max_big, CAST(SUM(c) AS BIGINT) AS tot_big
      |          FROM bc GROUP BY 1),
      |five AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS g
      |         FROM base, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)),
      |fstat AS (SELECT doc_id, COUNT(*) AS tot5, COUNT(DISTINCT g) AS uniq5
      |          FROM five GROUP BY 1),
      |rep_ok AS (SELECT b.doc_id FROM bstat b JOIN fstat f USING (doc_id)
      |           WHERE CAST(b.max_big AS DOUBLE) / b.tot_big <= 0.18
      |             AND 1.0 - CAST(f.uniq5 AS DOUBLE) / f.tot5 <= 0.3),
      |qual_ok AS (SELECT doc_id FROM base
      |            WHERE (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |              * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |              * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) >= 0.3),
      |gated AS (SELECT base.* FROM base
      |          JOIN rep_ok USING (doc_id) JOIN qual_ok USING (doc_id)
      |          WHERE doc_id % 50 <> 0),
      |ded AS (SELECT * FROM (
      |          SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |          FROM gated) WHERE rn = 1),
      |evalg AS (SELECT DISTINCT array_to_string(list_slice(toks, i, i + 4), ' ') AS g
      |          FROM (SELECT string_split(text, ' ') AS toks FROM documents
      |                WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 5) t,
      |               LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)),
      |dg AS (SELECT DISTINCT d.doc_id, array_to_string(list_slice(d.toks, i, i + 4), ' ') AS g
      |       FROM ded d, LATERAL (SELECT unnest(range(1, len(d.toks) - 3)) AS i)),
      |ov AS (SELECT dg.doc_id, COUNT(*) AS n_g,
      |         SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      |       FROM dg LEFT JOIN evalg e USING (g) GROUP BY 1),
      |clean AS (SELECT d.* FROM ded d JOIN ov USING (doc_id)
      |          WHERE CAST(ov.n_hit AS DOUBLE) / ov.n_g <= 0.5),
      |c AS (SELECT source, (CAST(substr(source, 4) AS INT) % 4) + 1 AS weight,
      |             COUNT(*) AS n_docs
      |      FROM clean GROUP BY 1),
      |m AS (SELECT MIN(CAST(n_docs AS DOUBLE) / weight) AS cap FROM c),
      |r AS (SELECT source, LEAST(1.0, weight * m.cap / n_docs) AS rate FROM c, m),
      |mix AS (SELECT cl.doc_id, cl.source, cl.text
      |        FROM clean cl JOIN r USING (source)
      |        WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) / 65536.0 < r.rate),
      |capd AS (SELECT doc_id, text FROM (
      |          SELECT mix.*, ROW_NUMBER() OVER (
      |            PARTITION BY source ORDER BY len(text) DESC, doc_id) AS rk
      |          FROM mix) WHERE rk <= 8),
      |d AS (SELECT doc_id, len(string_split(text, ' ')) + 1 AS need FROM capd),
      |p AS (SELECT doc_id, need,
      |        CAST(SUM(need) OVER (ORDER BY doc_id) - need AS BIGINT) AS start FROM d),
      |x AS (SELECT doc_id, need, start, start // 128 AS c0,
      |        (start + need - 1) // 128 AS c1 FROM p)
      |SELECT doc_id, chunk_id, start,
      |  CAST(least((chunk_id + 1) * 128, start + need)
      |       - greatest(chunk_id * 128, start) AS BIGINT) AS n_tok
      |FROM x, LATERAL (SELECT unnest(range(c0, c1 + 1)) AS chunk_id)
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    // Stage boundaries are eager materializations, not persists (r10
    // optimization): each of ded/clean/mixed is referenced by ≥ 2
    // downstream consumers, and a persist keeps the full LOGICAL plan
    // under every reference — the nine-stage composition multiplied
    // the curation-gate gram subtree per reference and the final plan
    // reached 29.8k lines / 1444 parquet scans, which Catalyst then
    // re-optimized per AQE stage (guide §7.3's huge-plan failure mode;
    // measured 10.1 s at sf0.1 with almost idle executors). The
    // boundary truncates each stage to a LogicalRDD. Locally that is a
    // localCheckpoint — a stand-in for the reliable stage write
    // (checkpoint/parquet) a production cluster would use at these
    // points; `spark.graft.stageBoundary=reliable` selects that path
    // (localCheckpoint blocks are unreplicated and die with their
    // executor — see the stageBoundary device doc).
    // clean feeds the mixture rates AND the remix filter (two consumers
    // inside remixSources) — materialize, or the gate/dedup/decontamination
    // prefix runs twice (q123's discipline; measured 94 → ~60 s at the
    // 10× smoke when this materialization was missing)
    val clean = cleanCorpusStage(s, dir).stageBoundary
    val mixed = remixSources(clean, expr("(CAST(substring(source, 4) AS INT) % 4) + 1"))
      .stageBoundary
    // q141's cap operator composed verbatim: the cap key is len(text)
    // (fixture-column-independent, like the oracle's len(text))
    val kept = domainCap(
      mixed.withColumn("n_chars", length(col("text"))), col("source"), 8)
    val docsToPack = mixed.join(kept.select(col("doc_id")), "doc_id")
      .select(col("doc_id"), col("text"))
    packSequences(docsToPack).orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Corpus datasheet — the per-(source, lang) statistics block of a
    * dataset card (Gebru et al., "Datasheets for Datasets"): document
    * and token counts, vocabulary size, type-token ratio, and the share
    * of documents passing the q25 quality gate. The audit a corpus
    * release ships alongside the data, and the drift monitor an ingest
    * pipeline diffs release-over-release (q145 tells you WHICH docs
    * moved; this tells you whether the statistics moved).
    *
    * Scale posture: two map-side-combined aggregates over one corpus
    * scan each — the per-cell COUNT(DISTINCT word) is Spark's two-phase
    * partial-distinct (dimension × vocab keys, never a corpus-sized
    * state), and the quality share is a scan-level per-row predicate
    * aggregated with the counts. Output is dimension-sized. */
  val q149CorpusCard: QueryDef = sql(
    "q149_corpus_card",
    """WITH t AS (SELECT doc_id, source, lang, string_split(text, ' ') AS toks
      |           FROM documents),
      |w AS (SELECT source, lang, unnest(toks) AS word FROM t),
      |g AS (SELECT source, lang, COUNT(*) AS n_tokens, COUNT(DISTINCT word) AS vocab
      |      FROM w GROUP BY 1, 2),
      |q AS (SELECT source, lang, COUNT(*) AS n_docs,
      |        SUM(CASE WHEN (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |              * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |              * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) >= 0.3
      |            THEN 1 ELSE 0 END) AS n_quality
      |      FROM t GROUP BY 1, 2)
      |SELECT q.source, q.lang, q.n_docs,
      |  CAST(g.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(g.vocab AS BIGINT) AS vocab,
      |  round(CAST(g.n_tokens AS DOUBLE) / q.n_docs, 6) AS avg_tokens,
      |  round(CAST(g.vocab AS DOUBLE) / g.n_tokens, 6) AS ttr,
      |  round(CAST(q.n_quality AS DOUBLE) / q.n_docs, 6) AS quality_rate
      |FROM q JOIN g USING (source, lang)
      |ORDER BY source, lang""".stripMargin) { (s, dir) =>
    val t = docsWithTokens(s, dir)
    val w = t.select(col("source"), col("lang"), explode(col("toks")).as("word"))
    val g = w.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("word")).as("vocab"))
    val quality = (col("n_uniq").cast("double") / col("n_tok")) *
      (lit(1.0) - col("n_stop").cast("double") / col("n_tok")) *
      least(lit(1.0), col("n_tok").cast("double") / 50.0)
    val q = t
      .withColumn("n_tok", size(col("toks")))
      .withColumn("n_stop", expr("size(filter(toks, x -> x = 'the' OR x = 'a'))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(quality >= 0.3, 1L).otherwise(0L)).as("n_quality"))
    q.join(g, Seq("source", "lang"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"), col("vocab"),
        round(col("n_tokens").cast("double") / col("n_docs"), 6).as("avg_tokens"),
        round(col("vocab").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("n_quality").cast("double") / col("n_docs"), 6).as("quality_rate"))
      .orderBy(col("source"), col("lang"))
  }

  /** Collocation mining by pointwise mutual information: for every word
    * bigram seen ≥ 5 times, `lift` = P(a,b)/(P(a)·P(b)) = N·c_ab/(c_a·c_b)
    * — the PMI exponent (Church & Hanks 1990's association ratio without
    * the log, which is monotone and adds nothing to the ranking). The
    * numerator N·c_ab and denominator c_a·c_b are exact BIGINTs < 2⁵³
    * (both ≤ N², N = corpus bigram count), so the emitted double is ONE
    * exactly-rounded IEEE division — bit-identical across engines, the
    * repo's int-ratio-double device. Collocations are what a tokenizer-
    * or phrase-vocabulary build mines from a corpus before training.
    *
    * Shape: the q22/q23 hash aggregates (map-side combined) + two joins
    * of the bigram relation against the unigram count relation on a
    * bounded vocabulary key, + one broadcast scalar N. Top-100 rides
    * TakeOrderedAndProject. No windows, no all-pairs anything. */
  val q155Collocations: QueryDef = sql(
    "q155_collocations",
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |uni AS (SELECT unnest(t) AS w FROM toks),
      |c1 AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
      |bi AS (SELECT t[i] AS w1, t[i + 1] AS w2
      |       FROM toks, LATERAL (SELECT generate_subscripts(t, 1) AS i)
      |       WHERE i <= len(t) - 1),
      |c2 AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bi GROUP BY 1, 2),
      |tot AS (SELECT COUNT(*) AS n FROM bi)
      |SELECT c2.w1 || ' ' || c2.w2 AS bigram, c2.n_ab, a.c AS n_a, b.c AS n_b,
      |  CAST(tot.n * c2.n_ab AS DOUBLE) / CAST(a.c * b.c AS DOUBLE) AS lift
      |FROM c2 JOIN c1 a ON a.w = c2.w1 JOIN c1 b ON b.w = c2.w2, tot
      |WHERE c2.n_ab >= 5
      |ORDER BY lift DESC, bigram
      |LIMIT 100""".stripMargin) { (s, dir) =>
    val toks = docsWithTokens(s, dir)
    val c1 = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = toks.select(explode(expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2)) ELSE array() END")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
    val tot = bi.agg(count(lit(1)).as("n"))
    c2.filter(col("n_ab") >= 5)
      .join(c1.withColumnRenamed("w", "w1").withColumnRenamed("c", "n_a"), "w1")
      .join(c1.withColumnRenamed("w", "w2").withColumnRenamed("c", "n_b"), "w2")
      .crossJoin(broadcast(tot))
      .select(
        concat(col("w1"), lit(" "), col("w2")).as("bigram"),
        col("n_ab"), col("n_a"), col("n_b"),
        ((col("n") * col("n_ab")).cast("double") / (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(100)
  }

  /** Domain fingerprint similarity: each source's term-frequency vector,
    * compared pairwise by cosine — the signal mixture design reads to
    * find near-identical domains worth merging (two mirrors of the same
    * site) or suspicious overlap between supposedly-distinct sources.
    * Dots are exact integer Σ tfₐ·tf_b; norms are one correctly-rounded
    * SQRT of an exact integer (< 2⁵³); the cosine is one division of
    * deterministically-rounded doubles — hash-identical across engines.
    *
    * Shape: one (source, word) hash aggregate, then a self-join on the
    * WORD key (never source²·vocab): each word contributes its source
    * pairs, summed map-side into k·(k−1)/2 output rows. At 100 TB vocab
    * is large but the join key is the word — the shuffle is vocabulary-
    * sized, and k (number of domains) stays in the hundreds, so the
    * result is always tiny. */
  val q157DomainCosine: QueryDef = sql(
    "q157_domain_cosine",
    """WITH tf AS (SELECT source, w, COUNT(*) AS tf
      |           FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |           GROUP BY 1, 2),
      |nrm AS (SELECT source, SQRT(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm FROM tf GROUP BY 1),
      |dots AS (SELECT a.source AS src_a, b.source AS src_b, CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      |         FROM tf a JOIN tf b ON b.w = a.w AND a.source < b.source
      |         GROUP BY 1, 2)
      |SELECT d.src_a, d.src_b, d.dot, CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) AS cosine
      |FROM dots d JOIN nrm na ON na.source = d.src_a JOIN nrm nb ON nb.source = d.src_b
      |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
    val tf = docsWithTokens(s, dir)
      .select(col("source"), explode(col("toks")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("tf")).cachedStageBoundary
    val nrm = tf.groupBy(col("source"))
      .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("nrm"))
    val dots = tf.select(col("source").as("src_a"), col("w"), col("tf").as("tfa"))
      .join(tf.select(col("source").as("src_b"), col("w"), col("tf").as("tfb")), "w")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
    dots
      .join(nrm.select(col("source").as("src_a"), col("nrm").as("na")), "src_a")
      .join(nrm.select(col("source").as("src_b"), col("nrm").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("dot"),
        (col("dot").cast("double") / (col("na") * col("nb"))).as("cosine"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Boilerplate span mining (the C4/CCNet device: drop spans repeated
    * across documents — navigation chrome, license headers, templated
    * text): word-3-grams occurring in ≥ 2 DISTINCT documents are
    * boilerplate; each affected document reports how much of it is
    * boilerplate. Counts are exact integers; the fraction is one exact
    * IEEE division. Distinct from q116 (overlap vs a fixed eval set) and
    * q126 (pairwise span dedup): this mines corpus-wide frequent spans
    * with no pair enumeration at all.
    *
    * Shape: one (gram → distinct-doc count) aggregate and one join of
    * the gram occurrences back against the frequent-gram relation on the
    * gram key, then a per-doc sum. At 100 TB both shuffles key on the
    * gram hash — the relation a Bloom filter prunes the same way
    * q115/q116 do; the df threshold makes the frequent side small. */
  val q158Boilerplate: QueryDef = sql(
    "q158_boilerplate",
    """WITH sh AS (SELECT doc_id, t.toks[i] || ' ' || t.toks[i + 1] || ' ' || t.toks[i + 2] AS sh
      |            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
      |                 LATERAL (SELECT generate_subscripts(t.toks, 1) AS i)
      |            WHERE i <= len(t.toks) - 2),
      |df AS (SELECT sh, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY 1),
      |per AS (SELECT s.doc_id, COUNT(*) AS n_grams,
      |               CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
      |        FROM sh s JOIN df d ON d.sh = s.sh
      |        GROUP BY 1)
      |SELECT doc_id, n_grams, n_boiler,
      |  CAST(n_boiler AS DOUBLE) / n_grams AS boiler_frac
      |FROM per
      |WHERE n_boiler > 0
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sh = docsWithTokens(s, dir)
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3))) ELSE array() END")).as("sh"))
      .cachedStageBoundary
    val df = sh.groupBy(col("sh")).agg(countDistinct(col("doc_id")).as("df"))
    sh.join(df, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_boiler"))
      .filter(col("n_boiler") > 0)
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_grams")).as("boiler_frac"))
      .orderBy(col("doc_id"))
  }

  /** Per-source quality quantile gate: q25's quality score thresholded
    * RELATIVE to each source's own distribution (keep a source's top
    * quartile) instead of one global cutoff — the curation practice that
    * stops a high-quality domain from drowning out a noisier one whose
    * best documents are still wanted (source-relative gating, as in
    * Gopher/MassiveText's per-subset filters). percent_rank is
    * (rank−1)/(n−1) over the exactly-computed quality double, identical
    * tie handling in both engines, so the kept set hash-verifies.
    *
    * Shape: one per-row quality projection and ONE window shuffle keyed
    * on source (bounded cardinality); no joins. At 100 TB each source
    * partition sorts independently — skew in source sizes is the q114
    * salting story if a single domain dominates. */
  val q159QualityQuantileGate: QueryDef = sql(
    "q159_quality_quantile_gate",
    """WITH q AS (
      |  SELECT doc_id, source,
      |    (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |      * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |      * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) AS quality
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)),
      |r AS (SELECT doc_id, source, quality,
      |        PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality) AS pr
      |      FROM q)
      |SELECT doc_id, source, quality, pr
      |FROM r
      |WHERE pr >= 0.75
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val q = docsWithTokens(s, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", expr("size(filter(toks, x -> x = 'the' OR x = 'a'))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .select(col("doc_id"), col("source"),
        ((col("n_uniq").cast("double") / col("n_tokens")) *
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
          least(lit(1.0), col("n_tokens").cast("double") / 50.0)).as("quality"))
    q.withColumn("pr",
        percent_rank().over(Window.partitionBy(col("source")).orderBy(col("quality"))))
      .filter(col("pr") >= 0.75)
      .select(col("doc_id"), col("source"), col("quality"), col("pr"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled mixture rates (mT5 — Xue et al. 2021,
    * arXiv:2010.11934 §3.2, the τ-sampling every multilingual/multi-
    * domain pretraining mix uses; τ = 2 here): sampling weight ∝ n^(1/τ)
    * = √n, which UP-samples small sources relative to proportional
    * mixing without the hard caps of UniMax (q134) — the third point on
    * the proportional (q118) / capped (q134) / tempered spectrum. τ = 2
    * is the one temperature whose power is an IEEE-exact primitive
    * (SQRT is correctly rounded; pow(x, 1/τ) for general τ is not), so
    * the emitted rates are deterministic cross-engine: w_rel =
    * √n_i/√n_max (one division of two correctly-rounded roots) and the
    * micro-rate floor(10⁶·w_rel) an exact floor of a deterministic
    * double. The only corpus-scale step is the per-source token count;
    * everything after is dimension-sized. */
  val q164TemperatureMix: QueryDef = sql(
    "q164_temperature_mix",
    """WITH t AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |           FROM documents GROUP BY source),
      |mx AS (SELECT MAX(n_tokens) AS m FROM t)
      |SELECT t.source, t.n_tokens,
      |  SQRT(CAST(t.n_tokens AS DOUBLE)) / SQRT(CAST(mx.m AS DOUBLE)) AS w_rel,
      |  CAST(FLOOR(1000000.0 * (SQRT(CAST(t.n_tokens AS DOUBLE)) / SQRT(CAST(mx.m AS DOUBLE)))) AS BIGINT) AS rate_micro
      |FROM t, mx
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val t = docsWithTokens(s, dir)
      .groupBy(col("source")).agg(sum(size(col("toks"))).cast("long").as("n_tokens"))
    val mx = t.agg(max(col("n_tokens")).as("m"))
    t.crossJoin(broadcast(mx))
      .select(col("source"), col("n_tokens"),
        (sqrt(col("n_tokens").cast("double")) / sqrt(col("m").cast("double"))).as("w_rel"),
        floor(lit(1000000.0) * (sqrt(col("n_tokens").cast("double")) /
          sqrt(col("m").cast("double")))).cast("long").as("rate_micro"))
      .orderBy(col("source"))
  }

  /** Zipf rank–frequency audit (Zipf 1949; Piantadosi 2014's review of
    * why the law holds across corpora): the top-50 words by frequency
    * with their rank, the Zipf invariant rank·freq (≈ constant when the
    * corpus is natural text; FLAT when it is synthetic/templated — the
    * shape check a corpus intake runs before believing any downstream
    * token statistics), and the top-to-rank frequency ratio c₁/c_r
    * (≈ r under the law). All columns are exact BIGINTs except the
    * ratio, which is ONE exactly-rounded IEEE division of two < 2⁵³
    * integers — bit-identical across engines; no log-log fit, because
    * the slope estimate would put a transcendental on the hash path
    * while the raw invariant carries the same diagnostic.
    *
    * Shape: one map-side-combined word count, a TakeOrderedAndProject
    * top-50 cut, a 50-row window for ranks, and a broadcast scalar c₁.
    * At 100 TB the only corpus-scale step is the count; the window
    * never sees more than 50 rows. */
  val q201ZipfAudit: QueryDef = sql(
    "q201_zipf_audit",
    """WITH c AS (SELECT word, COUNT(*) AS freq
      |           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |           GROUP BY 1),
      |r AS (SELECT word, freq,
      |        row_number() OVER (ORDER BY freq DESC, word) AS rank FROM c),
      |t AS (SELECT MAX(freq) AS c1 FROM c)
      |SELECT CAST(r.rank AS BIGINT) AS rank, r.word, r.freq,
      |  CAST(r.rank * r.freq AS BIGINT) AS rank_freq,
      |  CAST(t.c1 AS DOUBLE) / r.freq AS ratio_to_top
      |FROM r, t
      |WHERE r.rank <= 50
      |ORDER BY rank""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val c = docsWithTokens(s, dir)
      .select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val top = c.orderBy(col("freq").desc, col("word")).limit(50)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("word"))).cast("long"))
    val t = c.agg(max(col("freq")).as("c1"))
    top.crossJoin(broadcast(t))
      .select(col("rank"), col("word"), col("freq"),
        (col("rank") * col("freq")).cast("long").as("rank_freq"),
        (col("c1").cast("double") / col("freq")).as("ratio_to_top"))
      .orderBy(col("rank"))
  }

  /** Heaps vocabulary-growth audit (Heaps 1978; the V(n) ∝ n^β curve):
    * distinct-word count after ingesting the first 10/25/50/100 % of
    * the corpus in doc_id order, with the token volume and type-token
    * ratio at each checkpoint. A corpus whose vocabulary STOPS growing
    * is templated/duplicated (dedup will collapse it); one whose TTR
    * does not fall is synthetic noise — the two failure modes this
    * audit separates before a tokenizer or LM train run is budgeted.
    * The raw curve is emitted rather than a fitted β: every column is
    * an exact BIGINT except TTR, one exactly-rounded IEEE division.
    *
    * Shape: one (word → min doc_id) first-occurrence aggregate and one
    * per-doc token count, each joined against a BROADCAST 4-row
    * checkpoint relation derived from the max-doc_id scalar, then
    *4-group conditional aggregates. The checkpoint comparison doubles
    * rows by 4, never materializes per-checkpoint corpora. At 100 TB
    * both corpus-scale steps are single map-side-combined aggregates. */
  val q202HeapsGrowth: QueryDef = sql(
    "q202_heaps_growth",
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
      |f AS (SELECT word, MIN(doc_id) AS first_doc
      |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |      GROUP BY 1),
      |mx AS (SELECT MAX(doc_id) AS maxid FROM d),
      |ck AS (SELECT pct, (mx.maxid * pct) // 100 AS cut
      |       FROM (SELECT unnest([10, 25, 50, 100]) AS pct), mx),
      |dk AS (SELECT ck.pct, ck.cut, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(d.n) AS BIGINT) AS n_tokens
      |       FROM d JOIN ck ON d.doc_id <= ck.cut GROUP BY 1, 2),
      |vk AS (SELECT ck.pct, CAST(COUNT(*) AS BIGINT) AS vocab
      |       FROM f JOIN ck ON f.first_doc <= ck.cut GROUP BY 1)
      |SELECT CAST(dk.pct AS BIGINT) AS pct, CAST(dk.cut AS BIGINT) AS cut_doc,
      |  dk.n_docs, dk.n_tokens, vk.vocab,
      |  CAST(vk.vocab AS DOUBLE) / dk.n_tokens AS ttr
      |FROM dk JOIN vk USING (pct)
      |ORDER BY pct""".stripMargin) { (s, dir) =>
    val toks = docsWithTokens(s, dir)
    val d = toks.select(col("doc_id"), size(col("toks")).cast("long").as("n"))
    val f = toks.select(col("doc_id"), explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(min(col("doc_id")).as("first_doc"))
    val ck = d.agg(max(col("doc_id")).as("maxid"))
      .select(explode(expr("array(10L, 25L, 50L, 100L)")).as("pct"), col("maxid"))
      .select(col("pct"), expr("(maxid * pct) div 100").as("cut"))
    val dk = d.join(broadcast(ck), col("doc_id") <= col("cut"))
      .groupBy(col("pct"), col("cut"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).cast("long").as("n_tokens"))
    val vk = f.join(broadcast(ck), col("first_doc") <= col("cut"))
      .groupBy(col("pct")).agg(count(lit(1)).as("vocab"))
    dk.join(vk, Seq("pct"))
      .select(col("pct"), col("cut").as("cut_doc"), col("n_docs"), col("n_tokens"),
        col("vocab"), (col("vocab").cast("double") / col("n_tokens")).as("ttr"))
      .orderBy(col("pct"))
  }

  /** Token-budget corpus selection — the constrained-selection shape of
    * every "train on the best N tokens" decision (Gunasekar et al. 2023's
    * textbook-quality selection; Marion et al. 2023 arXiv:2309.04564 on
    * pruning to a budget): rank docs by the q25 quality score, admit in
    * rank order until the cumulative token count exceeds 25 % of the
    * corpus, and emit the admitted docs with their running total. The
    * greedy-by-quality order IS the knapsack solution here because cost
    * (tokens) and value (quality·presence) are separable per doc.
    *
    * The running total is computed with a BLOCK-PARTITIONED cumulative
    * sum, not one global window: docs partition into quality blocks
    * (quality rounded to 2 decimals — rounding is monotone, so block
    * order extends the rank order), each block cumsums in parallel
    * partitioned on its own key, and a ≤ 101-row block-offset relation
    * (cumulative block totals, exclusive) broadcasts back in. The sums
    * are integers, so block-partitioned and global results are
    * bit-equal — the device that keeps an inherently sequential prefix
    * sum off a single 100 TB partition (finer rounding bounds any hot
    * block). The oracle computes the same prefix sum as one global
    * window, proving the decomposition exact.
    *
    * Determinism: quality is q25's exact int-ratio double; cum_tokens
    * and the budget are exact BIGINTs; ORDER BY cum_tokens is a total
    * order (every doc has ≥ 1 token, so the prefix sum is strictly
    * increasing). */
  val q204BudgetSelect: QueryDef = sql(
    "q204_budget_select",
    """WITH q AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |      * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |      * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0) AS quality
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |b AS (SELECT (CAST(SUM(n_tokens) AS BIGINT) * 25) // 100 AS budget FROM q),
      |c AS (SELECT doc_id, n_tokens, quality,
      |        CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |      FROM q)
      |SELECT c.doc_id, c.n_tokens, round(c.quality, 6) AS quality_r, c.cum_tokens
      |FROM c, b
      |WHERE c.cum_tokens <= b.budget
      |ORDER BY cum_tokens""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val q = docsWithTokens(s, dir)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop", expr("size(filter(toks, x -> x = 'the' OR x = 'a'))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .select(col("doc_id"), col("n_tokens"),
        ((col("n_uniq").cast("double") / col("n_tokens")) *
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
          least(lit(1.0), col("n_tokens").cast("double") / 50.0)).as("quality"))
      .withColumn("blk", round(col("quality"), 2))
    val budget = q.agg(expr("(CAST(SUM(n_tokens) AS BIGINT) * 25) div 100").as("budget"))
    val offsets = q.groupBy(col("blk")).agg(sum(col("n_tokens")).as("blk_tokens"))
      .withColumn("blk_offset", coalesce(sum(col("blk_tokens")).over(
        Window.orderBy(col("blk").desc).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("blk"), col("blk_offset"))
    q.join(broadcast(offsets), Seq("blk"))
      .withColumn("cum_tokens",
        (col("blk_offset") + sum(col("n_tokens")).over(
          Window.partitionBy(col("blk")).orderBy(col("quality").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, 0))).cast("long"))
      .crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("quality"), 6).as("quality_r"), col("cum_tokens"))
      .orderBy(col("cum_tokens"))
  }

  /** Collision-entropy degeneracy gate (Rényi 1961's α = 2 entropy; its
    * exponential is Simpson 1949's diversity index — the repetition
    * signal with an EXACT rational form, unlike Shannon entropy whose
    * logs would put transcendentals on the hash path): per doc, the
    * complement of the token collision probability, 1 − Σc_w²/n², i.e.
    * the chance two random token draws differ. A looping generation or
    * boilerplate page collapses toward 0 while natural text sits near
    * 1 — the same failure q117's Gopher thresholds catch, measured on
    * a smooth scale a curation pipeline can threshold or regress on.
    * Numerator n² − Σc² and denominator n² are exact BIGINTs (< 2⁵³ up
    * to 90M-token docs), so the score is ONE exactly-rounded division.
    *
    * Shape: explode → (doc, word) count → per-doc aggregate; both hash
    * aggregates are map-side combined and shuffle on doc_id only. */
  val q206CollisionEntropy: QueryDef = sql(
    "q206_collision_entropy",
    """WITH c AS (SELECT doc_id, word, COUNT(*) AS c
      |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |           GROUP BY 1, 2),
      |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |        CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |        CAST(SUM(c * c) AS BIGINT) AS sumsq
      |      FROM c GROUP BY 1)
      |SELECT doc_id, n_tokens, n_distinct,
      |  CAST(n_tokens * n_tokens - sumsq AS DOUBLE)
      |    / CAST(n_tokens * n_tokens AS DOUBLE) AS simpson,
      |  (2 * (n_tokens * n_tokens - sumsq) < n_tokens * n_tokens) AS repetitive
      |FROM d
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docsWithTokens(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(col("c") * col("c")).cast("long").as("sumsq"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        ((col("n_tokens") * col("n_tokens") - col("sumsq")).cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double")).as("simpson"),
        (lit(2) * (col("n_tokens") * col("n_tokens") - col("sumsq")) <
          col("n_tokens") * col("n_tokens")).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  /** Discount weights for graded nDCG@10 (Järvelin & Kekäläinen,
    * TOIS'02): w(r) = round(10⁹/log₂(r+1)) as exact integer micros, a
    * 10-entry literal lookup shared verbatim by BOTH engine faces — the
    * device that keeps the only transcendental in nDCG out of the data
    * path entirely (same discipline as q147's integer trajectory). */
  private val ndcgW: Seq[(Int, Long)] = Seq(
    1 -> 1000000000L, 2 -> 630929754L, 3 -> 500000000L, 4 -> 430676558L,
    5 -> 386852807L, 6 -> 356207187L, 7 -> 333333333L, 8 -> 315464877L,
    9 -> 301029996L, 10 -> 289064826L)
  private def ndcgWCase(rankCol: String): String =
    "CASE " + ndcgW.map { case (r, w) => s"WHEN $rankCol = $r THEN CAST($w AS BIGINT)" }
      .mkString(" ") + " ELSE CAST(0 AS BIGINT) END"

  /** Graded nDCG@10 of the lexical retriever — q172's eval loop upgraded
    * from binary relevance to GRADED gains (the judgment shape TREC and
    * every production search eval actually uses): the semantic truth
    * list contributes gain 3 (cosine rank ≤ 3), 2 (≤ 10) or 1 (≤ 20),
    * and the BM25 run's DCG@10 is judged against the ideal ordering of
    * those same gains. MRR (q172) only sees the first hit; nDCG grades
    * the whole ranked page. DCG and IDCG are exact BIGINT micro sums
    * (integer gains × the [[ndcgW]] integer weight table — no
    * transcendentals cross an engine boundary); nDCG is ONE division.
    *
    * Scale posture: both legs keep their q172 shapes (broadcast query
    * terms into the postings join, broadcast query vectors into the
    * embedding scan, WindowGroupLimit top-k); the judgment is an
    * equi-join of two ≤ 20-row-per-query relations. */
  val q205NdcgEval: QueryDef = sql(
    "q205_ndcg_eval",
    s"""WITH $bm25PrefixSql,
      |bscore AS (
      |${bm25ScoreSql("qt")}),
      |run AS (SELECT query_id, doc_id, lex_rank FROM (
      |          SELECT query_id, doc_id,
      |            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, doc_id) AS lex_rank
      |          FROM bscore) WHERE lex_rank <= 10),
      |n AS (SELECT vec_id, embedding,
      |        SQRT(list_reduce(list_transform(range(len(embedding)), i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)), (x, y) -> x + y)) AS nrm
      |      FROM embeddings),
      |qe AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
      |sscore AS (SELECT q.query_id, n.vec_id AS doc_id,
      |             list_reduce(list_transform(range(len(n.embedding)), i -> CAST(n.embedding[i+1] AS DOUBLE) * CAST(q.qv[i+1] AS DOUBLE)), (x, y) -> x + y) / (n.nrm * q.qn) AS cosine
      |           FROM n JOIN qe q ON n.vec_id <> q.query_id),
      |truth AS (SELECT query_id, doc_id,
      |            CASE WHEN sem_rank <= 3 THEN 3 WHEN sem_rank <= 10 THEN 2 ELSE 1 END AS gain
      |          FROM (SELECT query_id, doc_id,
      |                  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS sem_rank
      |                FROM sscore) WHERE sem_rank <= 20),
      |dcg AS (SELECT r.query_id,
      |          CAST(SUM(COALESCE(t.gain, 0) * ${ndcgWCase("r.lex_rank")}) AS BIGINT) AS dcg_micro
      |        FROM run r LEFT JOIN truth t ON t.query_id = r.query_id AND t.doc_id = r.doc_id
      |        GROUP BY 1),
      |ideal AS (SELECT query_id, gain,
      |            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY gain DESC, doc_id) AS pos
      |          FROM truth),
      |idcg AS (SELECT query_id, CAST(SUM(gain * ${ndcgWCase("pos")}) AS BIGINT) AS idcg_micro
      |         FROM ideal WHERE pos <= 10 GROUP BY 1)
      |SELECT d.query_id, d.dcg_micro,
      |  CAST(COALESCE(i.idcg_micro, 0) AS BIGINT) AS idcg_micro,
      |  CASE WHEN COALESCE(i.idcg_micro, 0) > 0
      |       THEN CAST(d.dcg_micro AS DOUBLE) / i.idcg_micro ELSE 0.0 END AS ndcg
      |FROM dcg d LEFT JOIN idcg i USING (query_id)
      |ORDER BY d.query_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSimilarity.register(s)
    val (tf, dl, df) = postingsIndex(s, Tables.documents(s, dir))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("word"))
    val term = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val run = broadcast(qt).join(tf, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id")).agg(sum(term).as("raw"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("lex_rank") <= 10)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val emb = Tables.embeddings(s, dir)
    val qe = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val truth = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(qe))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("cosine", expr("cosine_sim_native(embedding, qv)"))
      .withColumn("sem_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("doc_id"))))
      .filter(col("sem_rank") <= 20)
      .select(col("query_id"), col("doc_id"),
        when(col("sem_rank") <= 3, 3L).when(col("sem_rank") <= 10, 2L).otherwise(1L).as("gain"))
    val dcg = run.join(truth, Seq("query_id", "doc_id"), "left")
      .withColumn("w", expr(ndcgWCase("lex_rank")))
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("gain"), lit(0L)) * col("w")).cast("long").as("dcg_micro"))
    val idcg = truth
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("gain").desc, col("doc_id"))))
      .filter(col("pos") <= 10)
      .withColumn("w", expr(ndcgWCase("pos")))
      .groupBy(col("query_id"))
      .agg(sum(col("gain") * col("w")).cast("long").as("idcg_micro"))
    dcg.join(idcg, Seq("query_id"), "left")
      .select(col("query_id"), col("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).cast("long").as("idcg_micro"),
        when(coalesce(col("idcg_micro"), lit(0L)) > 0,
          col("dcg_micro").cast("double") / col("idcg_micro")).otherwise(0.0).as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** Kneser–Ney-scored corpus filtering (Kneser & Ney, ICASSP'95; Chen
    * & Goodman 1999's study made interpolated KN the standard n-gram
    * smoothing — it is what KenLM computes and therefore what CCNet's
    * perplexity filter (Wenzek et al. 2020) actually runs; q128's add-1
    * model is the classroom baseline, this is the production one): an
    * interpolated bigram KN model with discount D = ¾ is trained on the
    * `lang = 'en'` reference slice, and every corpus doc is scored by
    * its mean bigram probability. D = ¾ makes every term RATIONAL:
    * max(c₂−D,0)/c₁ = (4c₂−3)/4c₁, the backoff weight D·N₁₊(w₁·)/c₁ =
    * 3n₁₊/4c₁, and the (add-1-smoothed) continuation probability
    * (N₁₋(·w₂)+1)/(T+V) — so each bigram's probability is one exact
    * integer fraction, materialized as p_micro = (num·10⁶) div den
    * (integer floor-division of nonnegative BIGINTs, identical in both
    * engines; products stay ≤ 10¹⁶ up to 10⁴× this corpus). Per-doc
    * sums of p_micro are exact BIGINTs — no float aggregation order
    * anywhere. A doc is flagged when its mean probability falls below
    * the uniform-model bar 1/V (Σp·V < n·10⁶, an exact integer
    * comparison): text the trained model finds LESS likely than knowing
    * nothing is the out-of-distribution/junk signal the filter drops.
    *
    * Scale posture: q128's exact shape — reference counts are hash
    * aggregates on the (vocabulary-bounded) bigram key, broadcast into
    * one corpus bigram pass; the per-doc aggregate shuffles on doc_id
    * only. */
  val q207KneserNey: QueryDef = sql(
    "q207_kneser_ney",
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |refbi AS (
      |  SELECT toks[i] AS w1, toks[i + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      |  WHERE lang = 'en' AND len(toks) >= 2),
      |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM refbi GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1,
      |         CAST(COUNT(DISTINCT w2) AS BIGINT) AS n1plus
      |       FROM refbi GROUP BY 1),
      |pc AS (SELECT w2, CAST(COUNT(DISTINCT w1) AS BIGINT) AS nprec FROM refbi GROUP BY 1),
      |tv AS (SELECT (SELECT COUNT(*) FROM c2)
      |         + (SELECT COUNT(DISTINCT word) FROM (
      |              SELECT unnest(toks) AS word FROM t WHERE lang = 'en')) AS tpv,
      |         (SELECT COUNT(DISTINCT word) FROM (
      |              SELECT unnest(toks) AS word FROM t WHERE lang = 'en')) AS v),
      |docbi AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      |  WHERE len(toks) >= 2),
      |p AS (SELECT d.doc_id,
      |        CASE
      |          WHEN c1.c1 IS NULL THEN
      |            ((COALESCE(pc.nprec, 0) + 1) * 1000000) // tv.tpv
      |          WHEN c2.c2 IS NULL THEN
      |            (3 * c1.n1plus * (COALESCE(pc.nprec, 0) + 1) * 1000000)
      |              // (4 * c1.c1 * tv.tpv)
      |          ELSE
      |            (((4 * c2.c2 - 3) * tv.tpv
      |                + 3 * c1.n1plus * (COALESCE(pc.nprec, 0) + 1)) * 1000000)
      |              // (4 * c1.c1 * tv.tpv)
      |        END AS p_micro
      |      FROM docbi d
      |      LEFT JOIN c2 ON c2.w1 = d.w1 AND c2.w2 = d.w2
      |      LEFT JOIN c1 ON c1.w1 = d.w1
      |      LEFT JOIN pc ON pc.w2 = d.w2, tv)
      |SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(p.p_micro) AS BIGINT) AS sum_p_micro,
      |  CAST(SUM(p.p_micro) // COUNT(*) AS BIGINT) AS avg_p_micro,
      |  (CAST(SUM(p.p_micro) AS BIGINT) * MAX(tv.v) < COUNT(*) * 1000000) AS below_uniform
      |FROM p, tv
      |GROUP BY p.doc_id
      |ORDER BY p.doc_id""".stripMargin) { (s, dir) =>
    val t = docsWithTokens(s, dir)
    def bi(d: DataFrame): DataFrame = d
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val ref = t.filter(col("lang") === "en")
    val refBi = bi(ref)
    val c2 = refBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = refBi.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"), countDistinct(col("w2")).as("n1plus"))
    val pc = refBi.groupBy(col("w2")).agg(countDistinct(col("w1")).as("nprec"))
    val types = c2.agg(count(lit(1)).as("ntypes"))
    val vocab = ref.select(explode(col("toks")).as("word"))
      .agg(countDistinct(col("word")).as("v"))
    val tv = types.crossJoin(vocab)
      .select((col("ntypes") + col("v")).as("tpv"), col("v"))
    val pMicro = expr(
      """CASE
        |  WHEN c1 IS NULL THEN
        |    ((coalesce(nprec, 0L) + 1L) * 1000000L) div tpv
        |  WHEN c2 IS NULL THEN
        |    (3L * n1plus * (coalesce(nprec, 0L) + 1L) * 1000000L) div (4L * c1 * tpv)
        |  ELSE
        |    (((4L * c2 - 3L) * tpv + 3L * n1plus * (coalesce(nprec, 0L) + 1L)) * 1000000L)
        |      div (4L * c1 * tpv)
        |END""".stripMargin)
    bi(t)
      .join(broadcast(c2), Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .join(broadcast(pc), Seq("w2"), "left")
      .crossJoin(broadcast(tv))
      .select(col("doc_id"), pMicro.as("p_micro"), col("v"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p_micro")).cast("long").as("sum_p_micro"),
        expr("CAST(SUM(p_micro) div COUNT(*) AS BIGINT)").as("avg_p_micro"),
        (sum(col("p_micro")) * max(col("v")) <
          count(lit(1)) * lit(1000000L)).as("below_uniform"))
      .orderBy(col("doc_id"))
  }

  /** Code-switching audit — the per-doc refinement of q24's corpus-level
    * language ID (Doğruöz et al., ACL'21 survey: mixed-language docs are
    * the segment multilingual curation pipelines must route specially,
    * because a doc-level language label is WRONG for them by
    * construction): score every doc against each language's marker
    * profile, take the best and second-best marker counts (argmax with
    * q24's alphabetical tie-break; the runner-up by a sentinel-guarded
    * GREATEST over the non-primary scores), and flag docs whose
    * second-place evidence is at least half the first-place evidence on
    * ≥ 4 total marker hits. All columns are exact integer counts and
    * integer comparisons — nothing floats.
    *
    * Shape: q24's zero-explode discipline — per-row array expressions
    * compute all five scores in one scan; no joins, no windows, and the
    * output is scan-shaped (one row per doc). At 100 TB this is a pure
    * map stage. */
  val q210CodeSwitch: QueryDef = {
    val langs = langProfiles.map(_._1).distinct.sorted
    def wordsOf(l: String) = langProfiles.filter(_._1 == l).map(_._2)
    def scoreSql(l: String) =
      s"len(list_filter(string_split(text, ' '), x -> ${wordsOf(l).map(w => s"x = '$w'").mkString(" OR ")}))"
    def scoreSpark(l: String) =
      s"size(filter(toks, x -> ${wordsOf(l).map(w => s"x = '$w'").mkString(" OR ")}))"
    val bestSql = s"GREATEST(${langs.map("s_" + _).mkString(", ")})"
    val primarySql =
      s"CASE ${langs.map(l => s"WHEN s_$l = $bestSql THEN '$l'").mkString(" ")} END"
    def secondSql(primaryCol: String) =
      s"GREATEST(${langs.map(l => s"CASE WHEN $primaryCol = '$l' THEN -1 ELSE s_$l END").mkString(", ")})"
    sql(
      "q210_code_switch",
      s"""WITH scored AS (SELECT doc_id, lang,
         |    ${langs.map(l => s"${scoreSql(l)} AS s_$l").mkString(",\n    ")}
         |  FROM documents),
         |best AS (SELECT doc_id, lang,
         |    ${langs.map(l => s"s_$l").mkString(", ")},
         |    CAST($bestSql AS BIGINT) AS best,
         |    $primarySql AS primary_lang
         |  FROM scored)
         |SELECT doc_id, lang, primary_lang, best,
         |  CAST(${secondSql("primary_lang")} AS BIGINT) AS second,
         |  CAST(${langs.map(l => s"s_$l").mkString(" + ")} AS BIGINT) AS n_markers,
         |  (${secondSql("primary_lang")} >= 1
         |    AND 2 * ${secondSql("primary_lang")} >= best
         |    AND ${langs.map(l => s"s_$l").mkString(" + ")} >= 4) AS mixed
         |FROM best
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val scored = langs.foldLeft(docsWithTokens(s, dir))(
        (df, l) => df.withColumn(s"s_$l", expr(scoreSpark(l)).cast("long")))
      val best = greatest(langs.map(l => col(s"s_$l")): _*)
      val primary = langs.foldLeft(when(lit(false), ""))(
        (c, l) => c.when(col(s"s_$l") === best, l))
      val withBest = scored
        .withColumn("best", best.cast("long"))
        .withColumn("primary_lang", primary)
      val second = greatest(langs.map(l =>
        when(col("primary_lang") === l, lit(-1L)).otherwise(col(s"s_$l"))): _*)
      val total = langs.map(l => col(s"s_$l")).reduce(_ + _)
      withBest
        .select(col("doc_id"), col("lang"), col("primary_lang"), col("best"),
          second.cast("long").as("second"),
          total.cast("long").as("n_markers"),
          (second >= 1L && lit(2L) * second >= col("best") && total >= 4L).as("mixed"))
        .orderBy(col("doc_id"))
    }
  }

  /** One-way ANOVA screen over per-source quality (Fisher 1925's
    * variance decomposition — the "is any source systematically
    * different?" screen run before q118/q139 mixture decisions; q110's
    * chi-square covers categorical contingency, this covers the NUMERIC
    * quality score): per-doc quality (q25's exact double) is floored to
    * an integer kilo-score, and the between/within sums of squares use
    * the computational identities SSB = Σ_s t_s²/n_s − T²/N and
    * SSW = Σx² − Σ_s t_s²/n_s, evaluated in EXACT milli-integers via
    * floor division ((t_s²·1000) div n_s — nonnegative, identical in
    * both engines; the kilo scale keeps T² < 2⁵³ up to ~10⁸ docs, past
    * which the ratio moves to identical-IEEE doubles, the q181 device).
    * F = (SSB·(N−k))/(SSW·(k−1)) is ONE division of exact BIGINTs.
    * Each source row carries its own marginals so the screen doubles as
    * a per-source quality league table.
    *
    * Shape: one scan → per-source aggregate (k = |sources| rows) + one
    * broadcast totals scalar. Nothing after the first aggregate touches
    * corpus-scale data. */
  val q211QualityAnova: QueryDef = sql(
    "q211_quality_anova",
    """WITH q AS (
      |  SELECT source, CAST(FLOOR(1000.0 *
      |    ((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |      * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |      * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0))) AS BIGINT) AS x
      |  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)),
      |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |        CAST(SUM(x) AS BIGINT) AS t,
      |        CAST(SUM(x * x) AS BIGINT) AS sq
      |      FROM q GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
      |          CAST(SUM(t) AS BIGINT) AS tt,
      |          CAST(SUM(sq) AS BIGINT) AS sqt,
      |          CAST(COUNT(*) AS BIGINT) AS k,
      |          CAST(SUM((t * t * 1000) // n_docs) AS BIGINT) AS sb_raw
      |        FROM g),
      |f AS (SELECT n, k,
      |        sb_raw - (tt * tt * 1000) // n AS ssb_milli,
      |        sqt * 1000 - sb_raw AS ssw_milli
      |      FROM tot)
      |SELECT g.source, g.n_docs, g.t AS sum_kilo,
      |  CAST((g.t * 1000) // g.n_docs AS BIGINT) AS mean_milli,
      |  CAST(f.ssb_milli AS BIGINT) AS ssb_milli,
      |  CAST(f.ssw_milli AS BIGINT) AS ssw_milli,
      |  CASE WHEN f.ssw_milli > 0 AND f.k > 1
      |       THEN CAST(f.ssb_milli * (f.n - f.k) AS DOUBLE)
      |            / CAST(f.ssw_milli * (f.k - 1) AS DOUBLE)
      |       ELSE 0.0 END AS f_stat
      |FROM g, f
      |ORDER BY g.source""".stripMargin) { (s, dir) =>
    val q = docsWithTokens(s, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", expr("size(filter(toks, x -> x = 'the' OR x = 'a'))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .select(col("source"),
        floor(lit(1000.0) *
          ((col("n_uniq").cast("double") / col("n_tokens")) *
            (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
            least(lit(1.0), col("n_tokens").cast("double") / 50.0))).cast("long").as("x"))
    val g = q.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("t"),
        sum(col("x") * col("x")).as("sq"))
    val tot = g.agg(
      sum(col("n_docs")).as("n"), sum(col("t")).as("tt"), sum(col("sq")).as("sqt"),
      count(lit(1)).as("k"),
      sum(expr("(t * t * 1000) div n_docs")).as("sb_raw"))
    val f = tot.select(col("n"), col("k"),
      (col("sb_raw") - expr("(tt * tt * 1000) div n")).as("ssb_milli"),
      (col("sqt") * 1000 - col("sb_raw")).as("ssw_milli"))
    g.crossJoin(broadcast(f))
      .select(col("source"), col("n_docs"), col("t").as("sum_kilo"),
        expr("CAST((t * 1000) div n_docs AS BIGINT)").as("mean_milli"),
        col("ssb_milli").cast("long"), col("ssw_milli").cast("long"),
        when(col("ssw_milli") > 0 && col("k") > 1,
          (col("ssb_milli") * (col("n") - col("k"))).cast("double") /
            (col("ssw_milli") * (col("k") - 1)).cast("double")).otherwise(0.0).as("f_stat"))
      .orderBy(col("source"))
  }

  /** Jackknife source influence (Efron 1982's leave-one-out device
    * applied at the SOURCE level — the cheap end of the data-valuation
    * spectrum that Shapley methods anchor: "what happens to corpus
    * quality if this source is dropped?" answered for every source in
    * ONE pass from sufficient statistics, no re-scan per source): with
    * per-source totals (n_s, t_s) and corpus totals (N, T), the
    * leave-one-source-out mean is (T−t_s)·1000 div (N−n_s) — exact
    * milli-integers; influence = loo_mean − corpus_mean, positive when
    * removing the source would RAISE corpus quality (the source drags).
    * The ranking this emits is the drop-list a mixture owner reads
    * before q118/q141 caps.
    *
    * Shape: one scan → per-source aggregate + broadcast totals; the
    * jackknife arithmetic is k-row. Guard: a single-source corpus
    * leaves no held-out mass (N = n_s) → influence 0 by CASE. */
  val q213SourceJackknife: QueryDef = sql(
    "q213_source_jackknife",
    """WITH q AS (
      |  SELECT source, CAST(FLOOR(1000.0 *
      |    ((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |      * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |      * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0))) AS BIGINT) AS x
      |  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)),
      |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |        CAST(SUM(x) AS BIGINT) AS t
      |      FROM q GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS tt FROM g)
      |SELECT g.source, g.n_docs,
      |  CAST((g.t * 1000) // g.n_docs AS BIGINT) AS mean_milli,
      |  CAST((tot.tt * 1000) // tot.n AS BIGINT) AS corpus_mean_milli,
      |  CAST(CASE WHEN tot.n > g.n_docs
      |       THEN ((tot.tt - g.t) * 1000) // (tot.n - g.n_docs)
      |       ELSE (tot.tt * 1000) // tot.n END AS BIGINT) AS loo_mean_milli,
      |  CAST(CASE WHEN tot.n > g.n_docs
      |       THEN ((tot.tt - g.t) * 1000) // (tot.n - g.n_docs) - (tot.tt * 1000) // tot.n
      |       ELSE 0 END AS BIGINT) AS influence_milli
      |FROM g, tot
      |ORDER BY influence_milli DESC, g.source""".stripMargin) { (s, dir) =>
    val q = docsWithTokens(s, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", expr("size(filter(toks, x -> x = 'the' OR x = 'a'))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .select(col("source"),
        floor(lit(1000.0) *
          ((col("n_uniq").cast("double") / col("n_tokens")) *
            (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
            least(lit(1.0), col("n_tokens").cast("double") / 50.0))).cast("long").as("x"))
    val g = q.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("t"))
    val tot = g.agg(sum(col("n_docs")).as("n"), sum(col("t")).as("tt"))
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr("CAST((t * 1000) div n_docs AS BIGINT)").as("mean_milli"),
        expr("CAST((tt * 1000) div n AS BIGINT)").as("corpus_mean_milli"),
        expr("""CAST(CASE WHEN n > n_docs
               THEN ((tt - t) * 1000) div (n - n_docs)
               ELSE (tt * 1000) div n END AS BIGINT)""").as("loo_mean_milli"),
        expr("""CAST(CASE WHEN n > n_docs
               THEN ((tt - t) * 1000) div (n - n_docs) - (tt * 1000) div n
               ELSE 0 END AS BIGINT)""").as("influence_milli"))
      .orderBy(col("influence_milli").desc, col("source"))
  }

  /** Good–Turing frequency-of-frequencies audit (Good 1953; Gale &
    * Sampson 1995's "simple Good–Turing" takes exactly this table as
    * input): N_c = how many word types occur exactly c times, for
    * c ≤ 20, with the Turing-discounted count c* = (c+1)·N_{c+1}/N_c
    * and the unseen-probability mass p₀ = N₁/N — the two numbers any
    * smoothing beyond q128/q207 starts from, and the table a corpus
    * intake reads to see whether the hapax tail is natural (Zipf-ish
    * N₁ ≫ N₂ ≫ …) or truncated/templated. The table keeps the 20
    * SMALLEST occupied counts (on natural text that is c = 1, 2, 3, …;
    * the synthetic fixture's 31-word vocabulary starts much higher —
    * the audit still reads the head of the distribution either way).
    * All counts exact BIGINTs; c* and p₀ are single divisions of exact
    * integers.
    *
    * Shape: word count → count-of-counts (a ≤ max-c-row aggregate) →
    * self-join on c+1 + one window over the count-of-count relation,
    * which is bounded by the number of DISTINCT frequencies (≪ vocab)
    * — everything after the first aggregate is tiny. */
  val q215GoodTuring: QueryDef = sql(
    "q215_good_turing",
    """WITH c AS (SELECT word, COUNT(*) AS c
      |           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |           GROUP BY 1),
      |cc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_c FROM c GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c * n_c) AS BIGINT) AS n_tokens,
      |          CAST(COALESCE(SUM(CASE WHEN c = 1 THEN n_c END), 0) AS BIGINT) AS n1
      |        FROM cc),
      |r AS (SELECT c, n_c, row_number() OVER (ORDER BY c) AS rk FROM cc)
      |SELECT CAST(a.c AS BIGINT) AS c, a.n_c,
      |  CASE WHEN b.n_c IS NOT NULL
      |       THEN CAST((a.c + 1) * b.n_c AS DOUBLE) / a.n_c ELSE 0.0 END AS c_star,
      |  CAST(tot.n1 AS DOUBLE) / tot.n_tokens AS p0
      |FROM r a LEFT JOIN cc b ON b.c = a.c + 1, tot
      |WHERE a.rk <= 20
      |ORDER BY c""".stripMargin) { (s, dir) =>
    val c = docsWithTokens(s, dir)
      .select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val cc = c.groupBy(col("c")).agg(count(lit(1)).as("n_c"))
    val tot = cc.agg(
      sum(col("c") * col("n_c")).cast("long").as("n_tokens"),
      coalesce(sum(when(col("c") === 1, col("n_c"))), lit(0L)).cast("long").as("n1"))
    val nxt = cc.select((col("c") - 1).as("c"), col("n_c").as("n_next"))
    val r = cc.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("c"))))
    r.join(nxt, Seq("c"), "left")
      .crossJoin(broadcast(tot))
      .filter(col("rk") <= 20)
      .select(col("c").cast("long"), col("n_c"),
        when(col("n_next").isNotNull,
          ((col("c") + 1) * col("n_next")).cast("double") / col("n_c"))
          .otherwise(0.0).as("c_star"),
        (col("n1").cast("double") / col("n_tokens")).as("p0"))
      .orderBy(col("c"))
  }

  /** Bitext / translation-pair mining (Resnik & Smith CL'03's
    * comparable-corpora mining; the shape behind CCMatrix/WikiMatrix-
    * style parallel-corpus construction, Schwenk 2021): find cross-
    * language doc pairs that are the SAME content modulo language
    * markers. The miner fingerprints each doc with every language's
    * marker words masked to '_' (md5 over the masked token sequence —
    * language-invariant by construction) and joins fingerprint groups
    * across DIFFERENT languages. The fixture corpus has no real
    * translations, so the face synthesizes them deterministically (the
    * q194/q145 device): every %17 non-de doc gets a 'de' rendition at
    * doc_id + 1000000 with the en markers swapped to the de markers —
    * invisible to raw-text equality, found by the masked fingerprint;
    * organic cross-language exact-content dup pairs surface too (they
    * are findings: mislabeled-language duplicates).
    *
    * Shape: scan + synthesized union + one fingerprint-keyed
    * aggregate-free self-join — pair volume is Σ group², bounded by
    * dup-group size (the q30 exact-dup class), never corpus². At
    * 100 TB this is exact dedup's cost with a language predicate. */
  val q212BitextMining: QueryDef = {
    val allMarkers = langProfiles.map(_._2).distinct
    val maskSqlList = allMarkers.map(w => s"'$w'").mkString(", ")
    sql(
      "q212_bitext_mining",
      s"""WITH base AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |    array_to_string(list_transform(string_split(text, ' '),
         |      x -> CASE WHEN x = 'the' THEN 'data' WHEN x = 'a' THEN 'value' ELSE x END), ' ') AS text,
         |    'de' AS lang
         |  FROM documents WHERE doc_id % 17 = 0 AND lang <> 'de'),
         |fp AS (
         |  SELECT doc_id, lang,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    md5(array_to_string(list_transform(string_split(text, ' '),
         |      x -> CASE WHEN x IN ($maskSqlList) THEN '_' ELSE x END), ' ')) AS f
         |  FROM base)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  a.lang AS lang_a, b.lang AS lang_b,
         |  CAST(a.n_tokens AS BIGINT) AS n_tokens,
         |  (b.doc_id >= 1000000) AS synthetic
         |FROM fp a JOIN fp b
         |  ON b.f = a.f AND a.doc_id < b.doc_id AND a.lang <> b.lang
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val docs = Tables.fanOut(Tables.documents(s, dir))
      val maskCase = allMarkers.map(w => s"x = '$w'").mkString(" OR ")
      val synth = docs.filter(col("doc_id") % 17 === 0 && col("lang") =!= "de")
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("array_join(transform(split(text, ' '), x -> CASE WHEN x = 'the' THEN 'data' WHEN x = 'a' THEN 'value' ELSE x END), ' ')").as("text"),
          lit("de").as("lang"))
      val base = docs.select(col("doc_id"), col("text"), col("lang")).unionAll(synth)
      val fp = base.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(expr(s"array_join(transform(split(text, ' '), x -> CASE WHEN $maskCase THEN '_' ELSE x END), ' ')")).as("f"))
      val a = fp.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"),
        col("n_tokens"), col("f"))
      val b = fp.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"), col("f"))
      a.join(b, Seq("f"))
        .filter(col("doc_a") < col("doc_b") && col("lang_a") =!= col("lang_b"))
        .select(col("doc_a"), col("doc_b"), col("lang_a"), col("lang_b"),
          col("n_tokens"), (col("doc_b") >= 1000000L).as("synthetic"))
        .orderBy(col("doc_a"), col("doc_b"))
    }
  }

  /** Context-length packing sweep — the q198/q209/q214 tuning shape
    * applied to the TRAINING-LAYOUT knob (Raffel et al. JMLR'20 §2.2
    * pack contiguously and accept boundary-crossing docs; Dubey et al.
    * 2024 §3.2 mask cross-document attention — either way, how many
    * docs a context length splits is the number that prices the
    * choice): for each L ∈ {64, 128, 256, 512}, the chunk count, the
    * docs split across a boundary, total boundary crossings, and the
    * fill ratio of the packed stream. Every doc's span under every L
    * derives from ONE start relation ([[packedStarts]] — the q130
    * two-pass prefix sum; starts do not depend on L), so sweeping four
    * lengths costs one prefix sum plus four scan aggregates — never
    * four packings. All exact integers: c₀ = start div L, c₁ =
    * (start+need−1) div L, fill = T·10⁶ div (chunks·L).
    *
    * Scale posture: the prefix sum is the documented two-pass device;
    * the sweep is a 4-row broadcast grid × one aggregate. */
  val q217PackingSweep: QueryDef = sql(
    "q217_packing_sweep",
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) + 1 AS need FROM documents),
      |p AS (SELECT doc_id, need,
      |        CAST(SUM(need) OVER (ORDER BY doc_id) - need AS BIGINT) AS start FROM d),
      |grid AS (SELECT unnest([64, 128, 256, 512]) AS context_len),
      |sw AS (SELECT g.context_len,
      |         CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(p.need) AS BIGINT) AS n_tokens,
      |         CAST(SUM(CASE WHEN (p.start + p.need - 1) // g.context_len
      |                        > p.start // g.context_len THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_split,
      |         CAST(SUM((p.start + p.need - 1) // g.context_len
      |                  - p.start // g.context_len) AS BIGINT) AS n_crossings
      |       FROM p, grid g
      |       GROUP BY 1)
      |SELECT CAST(context_len AS BIGINT) AS context_len, n_docs, n_tokens,
      |  CAST((n_tokens + context_len - 1) // context_len AS BIGINT) AS n_chunks,
      |  n_docs_split, n_crossings,
      |  CAST((n_tokens * 1000000) // (((n_tokens + context_len - 1) // context_len) * context_len) AS BIGINT) AS fill_micro
      |FROM sw
      |ORDER BY context_len""".stripMargin) { (s, dir) =>
    val starts = packedStarts(Tables.documents(s, dir))
    val grid = s.range(1).select(explode(
      expr("array(64L, 128L, 256L, 512L)")).as("context_len"))
    starts.crossJoin(broadcast(grid))
      .groupBy(col("context_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("need")).cast("long").as("n_tokens"),
        sum(when(expr("(start + need - 1) div context_len > start div context_len"), 1L)
          .otherwise(0L)).as("n_docs_split"),
        sum(expr("(start + need - 1) div context_len - start div context_len"))
          .cast("long").as("n_crossings"))
      .select(col("context_len"), col("n_docs"), col("n_tokens"),
        expr("CAST((n_tokens + context_len - 1) div context_len AS BIGINT)").as("n_chunks"),
        col("n_docs_split"), col("n_crossings"),
        expr("CAST((n_tokens * 1000000) div (((n_tokens + context_len - 1) div context_len) * context_len) AS BIGINT)").as("fill_micro"))
      .orderBy(col("context_len"))
  }

  /** l-diversity audit (Machanavajjhala et al., TKDD'07 — the attack
    * k-anonymity misses: a class can hold k ≥ 5 docs and STILL disclose
    * an attribute if every member shares it): over q195's release
    * posture with (source, length bucket) as the quasi-identifiers and
    * `lang` as the sensitive attribute, report each equivalence class's
    * size k AND its sensitive-value diversity l = distinct langs;
    * k_risky (k < 5) is q195's re-identification finding, l_risky
    * (l < 2) is the homogeneity finding — a class that passes k but
    * fails l tells every observer its members' language from metadata
    * alone. Exact integer counts throughout.
    *
    * Shape: one scan-level bucket expression + one QI-keyed aggregate
    * carrying COUNT and COUNT(DISTINCT lang) — q195's cost exactly. */
  val q216LDiversity: QueryDef = sql(
    "q216_l_diversity",
    """WITH qi AS (SELECT source, CAST(n_chars // 100 AS BIGINT) AS len_bucket, lang
      |            FROM documents),
      |cls AS (SELECT source, len_bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |          CAST(COUNT(DISTINCT lang) AS BIGINT) AS l_distinct
      |        FROM qi GROUP BY 1, 2)
      |SELECT source, len_bucket, n_docs, l_distinct,
      |  (n_docs < 5) AS k_risky, (l_distinct < 2) AS l_risky
      |FROM cls
      |ORDER BY source, len_bucket""".stripMargin) { (s, dir) =>
    Tables.fanOut(Tables.documents(s, dir))
      .select(col("source"), expr("n_chars DIV 100").as("len_bucket"), col("lang"))
      .groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("l_distinct"))
      .select(col("source"), col("len_bucket"), col("n_docs"), col("l_distinct"),
        (col("n_docs") < 5).as("k_risky"), (col("l_distinct") < 2).as("l_risky"))
      .orderBy(col("source"), col("len_bucket"))
  }

  /** Domain excess-loss reweighting — DoReMi's signal (Xie et al. 2023,
    * arXiv:2305.10429: upweight domains where the proxy model's loss
    * exceeds the reference; here the proxy is the repo's n-gram LM, the
    * honest stand-in this engine can train exactly): per-source mean
    * NLL under the `lang = 'en'`-trained bigram model, the excess over
    * the corpus mean, and a suggested mixture weight ∝ 1 + max(excess,
    * 0), floor-normalized to 10⁶. Determinism: each BIGRAM's NLL is
    * floored to exact milli-integers BEFORE any aggregation (the double
    * is one identical expression of exact counts in both engines;
    * floor of it is deterministic), so per-source sums are exact
    * BIGINTs — no float aggregation order anywhere, unlike an AVG of
    * doubles. The whole weight vector derives from sufficient
    * statistics in one corpus pass.
    *
    * Shape: q128's broadcast-reference-counts shape with a source-keyed
    * (k-row) aggregate instead of a doc-keyed one, plus two tiny
    * broadcast scalars (corpus mean, weight normalizer). */
  val q218DomainReweight: QueryDef = sql(
    "q218_domain_reweight",
    """WITH t AS (SELECT doc_id, source, lang, string_split(text, ' ') AS toks FROM documents),
      |refbi AS (
      |  SELECT toks[i] AS w1, toks[i + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      |  WHERE lang = 'en' AND len(toks) >= 2),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM refbi GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM refbi GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT word) AS v FROM (
      |  SELECT unnest(toks) AS word FROM t WHERE lang = 'en')),
      |docbi AS (
      |  SELECT source, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      |  WHERE len(toks) >= 2),
      |nb AS (SELECT d.source,
      |         CAST(FLOOR(-ln((COALESCE(c2.c2, 0) + 1.0)
      |                        / (COALESCE(c1.c1, 0) + v.v)) * 1000) AS BIGINT) AS nll_milli
      |       FROM docbi d LEFT JOIN c2 ON c2.w1 = d.w1 AND c2.w2 = d.w2
      |         LEFT JOIN c1 ON c1.w1 = d.w1, v),
      |src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |          CAST(SUM(nll_milli) AS BIGINT) AS sum_milli
      |        FROM nb GROUP BY 1),
      |tot AS (SELECT CAST(SUM(sum_milli) AS BIGINT) AS ts,
      |          CAST(SUM(n_bigrams) AS BIGINT) AS tn FROM src),
      |ex AS (SELECT s.source, s.n_bigrams,
      |         s.sum_milli // s.n_bigrams AS mean_nll_milli,
      |         tot.ts // tot.tn AS corpus_mean_milli,
      |         s.sum_milli // s.n_bigrams - tot.ts // tot.tn AS excess_milli
      |       FROM src s, tot),
      |wn AS (SELECT CAST(SUM(1 + GREATEST(excess_milli, 0)) AS BIGINT) AS wsum FROM ex)
      |SELECT ex.source, ex.n_bigrams,
      |  CAST(ex.mean_nll_milli AS BIGINT) AS mean_nll_milli,
      |  CAST(ex.corpus_mean_milli AS BIGINT) AS corpus_mean_milli,
      |  CAST(ex.excess_milli AS BIGINT) AS excess_milli,
      |  CAST(((1 + GREATEST(ex.excess_milli, 0)) * 1000000) // wn.wsum AS BIGINT) AS weight_micro
      |FROM ex, wn
      |ORDER BY ex.source""".stripMargin) { (s, dir) =>
    val t = docsWithTokens(s, dir)
    def bi(d: DataFrame, keep: Column*): DataFrame = d
      .filter(size(col("toks")) >= 2)
      .select(keep :+ explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"): _*)
      .select(keep :+ col("b.w1").as("w1") :+ col("b.w2").as("w2"): _*)
    val ref = t.filter(col("lang") === "en")
    val refBi = bi(ref)
    val c2 = refBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = refBi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = ref.select(explode(col("toks")).as("word"))
      .agg(countDistinct(col("word")).as("v"))
    val nllMilli = floor(-log(
      (coalesce(col("c2"), lit(0L)) + lit(1.0)) /
        (coalesce(col("c1"), lit(0L)).cast("double") + col("v"))) * 1000).cast("long")
    val src = bi(t, col("source"))
      .join(broadcast(c2), Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("source"), nllMilli.as("nll_milli"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_milli")).as("sum_milli"))
    val tot = src.agg(sum(col("sum_milli")).as("ts"), sum(col("n_bigrams")).as("tn"))
    val ex = src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_bigrams"),
        expr("sum_milli div n_bigrams").as("mean_nll_milli"),
        expr("ts div tn").as("corpus_mean_milli"),
        expr("sum_milli div n_bigrams - ts div tn").as("excess_milli"))
    val wn = ex.agg(sum(lit(1L) + greatest(col("excess_milli"), lit(0L))).as("wsum"))
    ex.crossJoin(broadcast(wn))
      .select(col("source"), col("n_bigrams"),
        col("mean_nll_milli").cast("long"), col("corpus_mean_milli").cast("long"),
        col("excess_milli").cast("long"),
        expr("CAST(((1 + GREATEST(excess_milli, 0)) * 1000000) div wsum AS BIGINT)").as("weight_micro"))
      .orderBy(col("source"))
  }

  /** Retrieval length-bias audit (Robertson & Zaragoza 2009 §4.4: BM25's
    * b exists to cancel the long-document prior; this measures whether
    * it DID): per query, the mean length of the top-10 retrieved docs
    * against the corpus mean, as the exact ratio bias = (Σdl_ret·N)/
    * (n_ret·T) in floor micros — bias ≫ 1 means the ranker still
    * prefers long docs (b too low), ≪ 1 short ones (b too high). All
    * integers: dl, N, T are exact; one floor division per query.
    *
    * Shape: the q136 run (its own documented cost) joined to the
    * (doc_id, dl) relation it already built, + a broadcast corpus
    * scalar — the audit itself is 10-rows-per-query cheap. */
  val q219LengthBias: QueryDef = sql(
    "q219_length_bias",
    s"""WITH $bm25PrefixSql,
      |bscore AS (
      |${bm25ScoreSql("qt")}),
      |run AS (SELECT query_id, doc_id FROM (
      |          SELECT query_id, doc_id,
      |            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, doc_id) AS lex_rank
      |          FROM bscore) WHERE lex_rank <= 10),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS t FROM dl)
      |SELECT r.query_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_ret,
      |  CAST((SUM(l.dl) * 1000) // COUNT(*) AS BIGINT) AS mean_dl_milli,
      |  CAST((MAX(tot.t) * 1000) // MAX(tot.n) AS BIGINT) AS corpus_mean_dl_milli,
      |  CAST((SUM(l.dl) * MAX(tot.n) * 1000000) // (COUNT(*) * MAX(tot.t)) AS BIGINT) AS bias_micro
      |FROM run r JOIN dl l ON l.doc_id = r.doc_id, tot
      |GROUP BY r.query_id
      |ORDER BY r.query_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val (tf, dl, df) = postingsIndex(s, Tables.documents(s, dir))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("word"))
    val term = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val run = broadcast(qt).join(tf, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id")).agg(sum(term).as("raw"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("lex_rank") <= 10)
      .select(col("query_id"), col("doc_id"))
    val tot = dl.agg(count(lit(1)).cast("long").as("n"), sum(col("dl")).cast("long").as("t"))
    run.join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_ret"),
        expr("CAST((SUM(dl) * 1000) div COUNT(*) AS BIGINT)").as("mean_dl_milli"),
        expr("CAST((MAX(t) * 1000) div MAX(n) AS BIGINT)").as("corpus_mean_dl_milli"),
        expr("CAST((SUM(dl) * MAX(n) * 1000000) div (COUNT(*) * MAX(t)) AS BIGINT)").as("bias_micro"))
      .orderBy(col("query_id"))
  }

  /** Robust per-source score normalization (median/IQR scaling — Huber
    * 1981's robust statistics applied to the practical problem Rousseeuw
    * & Croux 1993 state plainly: means and standard deviations are
    * themselves corrupted by the outliers a quality pipeline is hunting,
    * and a score comparable ACROSS sources needs per-source location/
    * scale): each doc's quality (q211's exact kilo-integer) is centered
    * on its SOURCE's median and scaled by its source's IQR, both exact
    * order statistics (q193's rank device, lower-median/quartile
    * convention), emitting the robust z in floor-millis and the |z| > 3
    * outlier flag. This is how one keep-threshold can govern sources
    * with different score distributions.
    *
    * Shape: one scan + per-source rank windows (partitioned by source —
    * distributed) + a k-row quartile relation broadcast back into the
    * scan. No global windows. */
  val q223RobustScale: QueryDef = sql(
    "q223_robust_scale",
    """WITH q AS (
      |  SELECT doc_id, source, CAST(FLOOR(1000.0 *
      |    ((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |      * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |      * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0))) AS BIGINT) AS x
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)),
      |r AS (SELECT doc_id, source, x,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY x, doc_id) AS rn,
      |        COUNT(*) OVER (PARTITION BY source) AS n
      |      FROM q),
      |st AS (SELECT source,
      |         MAX(CASE WHEN rn = (n + 1) // 2 THEN x END) AS med,
      |         MAX(CASE WHEN rn = (n + 1) // 4 THEN x END) AS q1,
      |         MAX(CASE WHEN rn = (3 * (n + 1)) // 4 THEN x END) AS q3
      |       FROM r GROUP BY 1)
      |SELECT r.doc_id, r.source, r.x AS quality_kilo,
      |  CAST(st.med AS BIGINT) AS med_kilo,
      |  CAST(GREATEST(st.q3 - st.q1, 1) AS BIGINT) AS iqr_kilo,
      |  CAST(((r.x - st.med) * 1000) // GREATEST(st.q3 - st.q1, 1) AS BIGINT) AS rz_milli,
      |  (ABS(((r.x - st.med) * 1000) // GREATEST(st.q3 - st.q1, 1)) > 3000) AS outlier
      |FROM r JOIN st USING (source)
      |ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val q = docsWithTokens(s, dir)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", expr("size(filter(toks, x -> x = 'the' OR x = 'a'))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .select(col("doc_id"), col("source"),
        floor(lit(1000.0) *
          ((col("n_uniq").cast("double") / col("n_tokens")) *
            (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
            least(lit(1.0), col("n_tokens").cast("double") / 50.0))).cast("long").as("x"))
    val w = Window.partitionBy(col("source"))
    val r = q
      .withColumn("rn", row_number().over(w.orderBy(col("x"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
    val st = r.groupBy(col("source")).agg(
      max(when(col("rn") === expr("(n + 1) div 2"), col("x"))).as("med"),
      max(when(col("rn") === expr("(n + 1) div 4"), col("x"))).as("q1"),
      max(when(col("rn") === expr("(3 * (n + 1)) div 4"), col("x"))).as("q3"))
    r.join(broadcast(st), Seq("source"))
      .select(col("doc_id"), col("source"), col("x").as("quality_kilo"),
        col("med").cast("long").as("med_kilo"),
        greatest(col("q3") - col("q1"), lit(1L)).cast("long").as("iqr_kilo"),
        expr("CAST(((x - med) * 1000) div GREATEST(q3 - q1, 1) AS BIGINT)").as("rz_milli"),
        (abs(expr("((x - med) * 1000) div GREATEST(q3 - q1, 1)")) > 3000).as("outlier"))
      .orderBy(col("doc_id"))
  }

  /** Word burstiness audit (Church & Gale 1995; Katz 1996: content
    * words CLUMP — their total count concentrates in few documents —
    * while function words spread evenly; burstiness cf/df separates
    * them, which is why idf works and which words deserve stop-listing
    * or phrase treatment): for every word with cf ≥ 20, the collection
    * frequency, document frequency, and burstiness = cf·1000 div df in
    * exact floor-millis (mean occurrences per CONTAINING doc), top-50
    * burstiest. All exact integers.
    *
    * Shape: one (word, doc) count → word-level aggregate (both
    * map-side-combined) + a TakeOrderedAndProject top-k. */
  val q224Burstiness: QueryDef = sql(
    "q224_burstiness",
    """WITH wd AS (SELECT word, doc_id, COUNT(*) AS c
      |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |            GROUP BY 1, 2),
      |w AS (SELECT word, CAST(SUM(c) AS BIGINT) AS cf,
      |        CAST(COUNT(*) AS BIGINT) AS df
      |      FROM wd GROUP BY 1)
      |SELECT word, cf, df, CAST((cf * 1000) // df AS BIGINT) AS burst_milli
      |FROM w
      |WHERE cf >= 20
      |ORDER BY burst_milli DESC, word
      |LIMIT 50""".stripMargin) { (s, dir) =>
    docsWithTokens(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("word"))
      .agg(sum(col("c")).cast("long").as("cf"), count(lit(1)).cast("long").as("df"))
      .filter(col("cf") >= 20)
      .select(col("word"), col("cf"), col("df"),
        expr("CAST((cf * 1000) div df AS BIGINT)").as("burst_milli"))
      .orderBy(col("burst_milli").desc, col("word"))
      .limit(50)
  }

  /** Per-source length-distribution drift by the Kolmogorov–Smirnov
    * statistic (Kolmogorov 1933; Massey JASA'51 — the distribution-free
    * two-sample gap every data-monitoring stack reaches for): for each
    * source, D = max over observed lengths of |F_source(v) − F_corpus(v)|,
    * computed EXACTLY by cross-multiplication — the cell gap is
    * |c_s(v)·N − c(v)·n_s| over n_s·N, and the max then one floor-micro
    * division — so the supremum never touches a float. A drifted source
    * (scrape truncation, boilerplate injection, template change) shows
    * up as a D step long before a mean shifts.
    *
    * Shape: per-(source, length) counts, cumulated by a window
    * PARTITIONED BY SOURCE over the (bounded) distinct-length axis on a
    * broadcast value grid; corpus cumulative counts ride the same grid.
    * Nothing global, nothing corpus-scale after the first aggregate. */
  val q225KsDrift: QueryDef = sql(
    "q225_ks_drift",
    """WITH l AS (SELECT source, n_chars AS v FROM documents),
      |vals AS (SELECT DISTINCT v FROM l),
      |src AS (SELECT source, COUNT(*) AS n_s FROM l GROUP BY 1),
      |sc AS (SELECT source, v, COUNT(*) AS c FROM l GROUP BY 1, 2),
      |grid AS (SELECT s.source, s.n_s, vals.v, COALESCE(sc.c, 0) AS c
      |         FROM src s CROSS JOIN vals
      |         LEFT JOIN sc ON sc.source = s.source AND sc.v = vals.v),
      |cum AS (SELECT source, n_s, v,
      |          SUM(c) OVER (PARTITION BY source ORDER BY v) AS cs
      |        FROM grid),
      |corpus AS (SELECT v, SUM(c) AS cv FROM grid GROUP BY 1),
      |ccum AS (SELECT v, CAST(SUM(cv) OVER (ORDER BY v) AS BIGINT) AS cc FROM corpus),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM l),
      |gap AS (SELECT c.source, c.n_s, c.v,
      |          ABS(c.cs * n.nn - x.cc * c.n_s) AS num
      |        FROM cum c JOIN ccum x USING (v), n),
      |best AS (SELECT source, n_s, v, num,
      |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY num DESC, v) AS rk
      |         FROM gap)
      |SELECT b.source, CAST(b.n_s AS BIGINT) AS n_docs,
      |  CAST(b.v AS BIGINT) AS at_len,
      |  CAST((b.num * 1000000) // (b.n_s * n.nn) AS BIGINT) AS d_micro,
      |  ((b.num * 10) >= (b.n_s * n.nn)) AS drifted
      |FROM best b, n
      |WHERE b.rk = 1
      |ORDER BY b.source""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val l = Tables.documents(s, dir).select(col("source"), col("n_chars").as("v"))
    val vals = l.select(col("v")).distinct()
    val src = l.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val sc = l.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
    val grid = src.crossJoin(broadcast(vals))
      .join(sc, Seq("source", "v"), "left")
      .select(col("source"), col("n_s"), col("v"), coalesce(col("c"), lit(0L)).as("c"))
    val cum = grid.withColumn("cs",
      sum(col("c")).over(Window.partitionBy(col("source")).orderBy(col("v"))))
    val ccum = grid.groupBy(col("v")).agg(sum(col("c")).as("cv"))
      .withColumn("cc", sum(col("cv")).over(Window.orderBy(col("v")))).select(col("v"), col("cc"))
    val n = l.agg(count(lit(1)).cast("long").as("nn"))
    val gap = cum.join(broadcast(ccum), Seq("v")).crossJoin(broadcast(n))
      .withColumn("num", abs(col("cs") * col("nn") - col("cc") * col("n_s")))
    gap.withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("num").desc, col("v"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("n_s").cast("long").as("n_docs"),
        col("v").cast("long").as("at_len"),
        expr("CAST((num * 1000000) div (n_s * nn) AS BIGINT)").as("d_micro"),
        ((col("num") * 10) >= (col("n_s") * col("nn"))).as("drifted"))
      .orderBy(col("source"))
  }

  /** Per-source Mann–Whitney U rank test (Mann & Whitney 1947;
    * Wilcoxon 1945) — the RANK-based companion to q225's KS gap on the
    * same length axis: for each source, U compares that source's
    * n_chars against the REST of the corpus, and U/(n·m) is exactly
    * the AUC — the probability a random doc from the source is longer
    * than a random doc from everywhere else (ties counting ½). KS
    * fires on any distribution-shape step; U/AUC reads the DIRECTION
    * and magnitude of a location shift, which is the triage question
    * once KS flags a source. Everything is exact integers by the
    * DOUBLED-rank device: with ties at value v averaging ranks,
    * 2·avg_rank(v) = 2·cum_below(v) + count(v) + 1 is an integer, so
    * u_x2 = 2R − n(n+1) is exact, the tie convention is pinned
    * (an all-tied corpus gives u_x2 = n·m exactly, AUC ½), and the
    * only division is the final floor-micro AUC emission.
    *
    * Shape: q225's posture — per-value corpus counts cumulated on the
    * bounded distinct-length axis, per-(source, value) counts joined
    * back on the broadcast value relation, then a source-keyed
    * map-side-combined sum; nothing corpus-scale after the first
    * aggregate. (At ≥10¹⁰-doc sources the n·m AUC denominator
    * approaches 2⁶³ — emit the exact u_x2/n/m and divide in DECIMAL
    * downstream; the flag's cross-multiplication stays in range far
    * longer than the micro-scaled quotient.) */
  val q237MannWhitney: QueryDef = sql(
    "q237_mann_whitney",
    """WITH l AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
      |cv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM l GROUP BY 1),
      |rk AS (SELECT v, c,
      |         CAST(2 * (CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) - c) + c + 1 AS BIGINT) AS t2avg
      |       FROM cv),
      |sc AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS cs FROM l GROUP BY 1, 2),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM l),
      |r2 AS (SELECT sc.source, CAST(SUM(sc.cs * rk.t2avg) AS BIGINT) AS rsum2,
      |         CAST(SUM(sc.cs) AS BIGINT) AS n_s
      |       FROM sc JOIN rk USING (v) GROUP BY 1)
      |SELECT r2.source, r2.n_s, (n.nn - r2.n_s) AS n_rest,
      |  CAST(r2.rsum2 - r2.n_s * (r2.n_s + 1) AS BIGINT) AS u_x2,
      |  CAST(((r2.rsum2 - r2.n_s * (r2.n_s + 1)) * 500000)
      |       // (r2.n_s * (n.nn - r2.n_s)) AS BIGINT) AS auc_micro,
      |  (5 * ABS(r2.rsum2 - r2.n_s * (r2.n_s + 1) - r2.n_s * (n.nn - r2.n_s))
      |     >= r2.n_s * (n.nn - r2.n_s)) AS shifted
      |FROM r2, n
      |ORDER BY r2.source""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val l = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").cast("long").as("v"))
    val cv = l.groupBy(col("v")).agg(count(lit(1)).cast("long").as("c"))
    val rk = cv.withColumn("t2avg",
      (lit(2L) * (sum(col("c")).over(Window.orderBy(col("v"))) - col("c")) +
        col("c") + 1L).cast("long"))
    val sc = l.groupBy(col("source"), col("v")).agg(count(lit(1)).cast("long").as("cs"))
    val n = l.agg(count(lit(1)).cast("long").as("nn"))
    sc.join(broadcast(rk), Seq("v"))
      .groupBy(col("source"))
      .agg(sum(col("cs") * col("t2avg")).cast("long").as("rsum2"),
        sum(col("cs")).cast("long").as("n_s"))
      .crossJoin(broadcast(n))
      .withColumn("u_x2", (col("rsum2") - col("n_s") * (col("n_s") + 1L)).cast("long"))
      .select(col("source"), col("n_s"), (col("nn") - col("n_s")).as("n_rest"),
        col("u_x2"),
        expr("CAST((u_x2 * 500000) div (n_s * (nn - n_s)) AS BIGINT)").as("auc_micro"),
        (lit(5L) * abs(col("u_x2") - col("n_s") * (col("nn") - col("n_s"))) >=
          col("n_s") * (col("nn") - col("n_s"))).as("shifted"))
      .orderBy(col("source"))
  }

  /** Cross-source quantile normalization (Bolstad Bioinformatics'03 —
    * the microarray device, standard wherever per-source distribution
    * shape is a nuisance variable): each doc's length is REPLACED by
    * the pooled corpus quantile at its within-source rank fraction
    * (r−½)/n_s, so every source's normalized distribution becomes the
    * pooled one while each source's internal ORDER is exactly
    * preserved — the alignment step before cross-source thresholds
    * (q159's gates, q225/q237's drift flags) can be compared on one
    * scale. Exact integers end-to-end: target position
    * pos = ⌊(2r−1)·N / (2·n_s)⌋ + 1 ∈ [1, N] (provably, no clamp),
    * and the pooled quantile lookup rides the BOUNDED distinct-value
    * axis — pos lands in the one value whose cumulative interval
    * covers it (cum−c < pos ≤ cum), a broadcast range join, never a
    * global sort of the corpus. Equal-size sources receive the
    * IDENTICAL normalized multiset (the defining property,
    * spec-pinned across all 20 fixture sources).
    *
    * Shape: q225's posture — per-source windows (distributed on the
    * source axis), one bounded value-axis cumulation, one broadcast
    * interval join. (Beyond ~10⁹ docs per source the (2r−1)·N
    * product wants DECIMAL or the q204 block split; the axis device
    * itself is scale-free.) */
  val q239QuantileNorm: QueryDef = sql(
    "q239_quantile_norm",
    """WITH l AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v FROM documents),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM l),
      |cv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM l GROUP BY 1),
      |cum AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cc FROM cv),
      |r AS (SELECT doc_id, source, v,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS BIGINT) AS rk,
      |        CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
      |      FROM l)
      |SELECT r.doc_id, r.source, r.v, r.rk,
      |  CAST(((2 * r.rk - 1) * n.nn) // (2 * r.n_s) + 1 AS BIGINT) AS pos,
      |  c.v AS v_norm
      |FROM r CROSS JOIN n
      |JOIN cum c ON ((2 * r.rk - 1) * n.nn) // (2 * r.n_s) + 1 > c.cc - c.c
      |          AND ((2 * r.rk - 1) * n.nn) // (2 * r.n_s) + 1 <= c.cc
      |ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val l = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("v"))
    val n = l.agg(count(lit(1)).cast("long").as("nn"))
    val cum = l.groupBy(col("v")).agg(count(lit(1)).cast("long").as("c"))
      .withColumn("cc", sum(col("c")).over(Window.orderBy(col("v"))).cast("long"))
      .select(col("v").as("nv"), col("c"), col("cc"))
    val bySrc = Window.partitionBy(col("source"))
    val r = l
      .withColumn("rk", row_number().over(bySrc.orderBy(col("v"), col("doc_id"))).cast("long"))
      .withColumn("n_s", count(lit(1)).over(bySrc).cast("long"))
      .crossJoin(broadcast(n))
      .withColumn("pos", expr("((2 * rk - 1) * nn) DIV (2 * n_s) + 1"))
    r.join(broadcast(cum), col("pos") > col("cc") - col("c") && col("pos") <= col("cc"))
      .select(col("doc_id"), col("source"), col("v"), col("rk"), col("pos"),
        col("nv").as("v_norm"))
      .orderBy(col("doc_id"))
  }

  /** Merkle-tree corpus diff — the anti-entropy device (Merkle
    * CRYPTO'87; Cassandra/Dynamo repair, DeCandia SOSP'07 §4.7) that
    * LOCALIZES where two corpus versions diverge without comparing
    * doc-by-doc, where q145's flat diff pays one full-corpus join:
    * doc hashes roll up through fanout-16 id-range buckets
    * (level 0 = doc_id DIV 16, each parent = md5 of its children's
    * "key=hash" entries in key order), and a sync walks DOWN only
    * through nodes whose hashes differ — identical subtrees are
    * certified identical by ONE hash compare, so transfer cost is
    * O(changed · depth), not O(corpus). v2 is synthesized by the
    * q145/q194 device (edit %17, delete %23, add clones of %19 at
    * +3,000,000 — the adds land in fresh id ranges, exercising the
    * one-sided outer branch). Emits every node of levels 0–2 for both
    * versions with its differs flag; parent-differs ⟺ some-child-
    * differs and touched-bucket exactness are spec-pinned
    * (`VersioningSpec`).
    *
    * Scale posture: each level is one map-side-combined aggregate
    * whose output is 1/16 its input; the version join is node-keyed.
    * Production keeps the tree PERSISTED per snapshot (q108's
    * protocol) so a sync reads two metadata-plane trees and touches
    * the corpus only under differing leaves. Entry strings are
    * bounded (16 children × ~40 chars). */
  val q240MerkleDiff: QueryDef = {
    def treeSql(src: String, t: String): String =
      s"""${t}_leaf AS (SELECT doc_id, md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS dh FROM $src),
         |${t}_l0 AS (SELECT doc_id // 16 AS b,
         |    md5(string_agg(concat(CAST(doc_id AS VARCHAR), '=', dh), ',' ORDER BY doc_id)) AS h
         |  FROM ${t}_leaf GROUP BY 1),
         |${t}_l1 AS (SELECT b // 16 AS pb,
         |    md5(string_agg(concat(CAST(b AS VARCHAR), '=', h), ',' ORDER BY b)) AS h
         |  FROM ${t}_l0 GROUP BY 1),
         |${t}_l2 AS (SELECT pb // 16 AS pb2,
         |    md5(string_agg(concat(CAST(pb AS VARCHAR), '=', h), ',' ORDER BY pb)) AS h
         |  FROM ${t}_l1 GROUP BY 1),
         |${t}_t AS (SELECT CAST(0 AS BIGINT) AS level, b, h FROM ${t}_l0
         |  UNION ALL SELECT 1, pb, h FROM ${t}_l1
         |  UNION ALL SELECT 2, pb2, h FROM ${t}_l2)""".stripMargin
    sql(
      "q240_merkle_diff",
      s"""WITH v1 AS (SELECT doc_id, text FROM documents),
         |v2 AS (SELECT doc_id,
         |         CASE WHEN doc_id % 17 = 0 THEN concat(text, ' [edited v2]') ELSE text END AS text
         |       FROM documents WHERE doc_id % 23 <> 0
         |       UNION ALL
         |       SELECT doc_id + 3000000, concat('v2new:', text)
         |       FROM documents WHERE doc_id % 19 = 0),
         |${treeSql("v1", "a")},
         |${treeSql("v2", "b")}
         |SELECT COALESCE(a_t.level, b_t.level) AS level,
         |  CAST(COALESCE(a_t.b, b_t.b) AS BIGINT) AS bucket,
         |  a_t.h AS v1_hash, b_t.h AS v2_hash,
         |  (a_t.h IS NULL OR b_t.h IS NULL OR a_t.h <> b_t.h) AS differs
         |FROM a_t FULL OUTER JOIN b_t
         |  ON a_t.level = b_t.level AND a_t.b = b_t.b
         |ORDER BY level DESC, bucket""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val v2 = docs.filter(col("doc_id") % 23 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" [edited v2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(lit("v2new:"), col("text")).as("text")))
      def up(df: DataFrame, key: String): DataFrame = df
        .groupBy(expr(s"$key DIV 16").as("b"))
        .agg(expr(s"md5(array_join(transform(array_sort(collect_list(struct($key, h))), " +
          s"x -> concat(CAST(x.$key AS STRING), '=', x.h)), ',')) AS h"))
      def tree(v: DataFrame): DataFrame = {
        val leaf = v.select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))).as("h"))
        val l0 = up(leaf, "doc_id")
        val l1 = up(l0, "b")
        val l2 = up(l1, "b")
        l0.select(lit(0L).as("level"), col("b"), col("h"))
          .unionByName(l1.select(lit(1L).as("level"), col("b"), col("h")))
          .unionByName(l2.select(lit(2L).as("level"), col("b"), col("h")))
      }
      val a = tree(docs).withColumnsRenamed(Map("h" -> "v1_hash"))
      val bt = tree(v2).withColumnsRenamed(Map("h" -> "v2_hash"))
      a.join(bt, Seq("level", "b"), "full_outer")
        .select(col("level"), col("b").cast("long").as("bucket"),
          col("v1_hash"), col("v2_hash"),
          (col("v1_hash").isNull || col("v2_hash").isNull ||
            col("v1_hash") =!= col("v2_hash")).as("differs"))
        .orderBy(col("level").desc, col("bucket"))
    }
  }

  /** Retention/VACUUM planner — the third leg of the lakehouse
    * metadata triad beside q176's time travel and q170's compaction
    * (Armbrust VLDB'20 §4.3: VACUUM deletes file versions no retained
    * snapshot can reach; Iceberg calls it expire-snapshots): with
    * retention "keep snapshots as-of 4 and 5", every put-action file
    * instance in the commit log is classified retained (it IS the live
    * file of some retained snapshot) or expired (safe to delete), with
    * the reclaimable instance count derivable by the consumer. Replay
    * semantics are shared with q176 via one log chain ([[commitLogSql]]
    * / [[commitLog]]), so the planner can never disagree with the
    * reader about liveness — the property that makes VACUUM safe.
    *
    * Scale posture: metadata plane — the log is shard-count-sized; the
    * replay is one (as_of, shard)-keyed window over it. */
  val q228VacuumPlan: QueryDef = sql(
    "q228_vacuum_plan",
    s"""WITH $commitLogSql,
       |puts AS (SELECT version, shard_id, file_hash FROM acts WHERE action = 'put'),
       |live AS (SELECT shard_id, version FROM (
       |    SELECT a.as_of, l.shard_id, l.version, l.action,
       |      ROW_NUMBER() OVER (PARTITION BY a.as_of, l.shard_id ORDER BY l.version DESC) AS rn
       |    FROM (SELECT CAST(4 AS BIGINT) AS as_of UNION ALL SELECT CAST(5 AS BIGINT)) a
       |    JOIN acts l ON l.version <= a.as_of)
       |  WHERE rn = 1 AND action = 'put'),
       |ret AS (SELECT DISTINCT shard_id, version FROM live)
       |SELECT p.shard_id, p.version, p.file_hash,
       |  (r.version IS NOT NULL) AS retained
       |FROM puts p LEFT JOIN ret r
       |  ON r.shard_id = p.shard_id AND r.version = p.version
       |ORDER BY p.shard_id, p.version""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val log = commitLog(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .cachedStageBoundary
    val puts = log.filter(col("action") === "put")
      .select(col("version"), col("shard_id"), col("file_hash"))
    val asOf = s.range(4, 6).select(col("id").as("as_of"))
    val live = log.crossJoin(broadcast(asOf))
      .filter(col("version") <= col("as_of"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("as_of"), col("shard_id")).orderBy(col("version").desc)))
      .filter(col("rn") === 1 && col("action") === "put")
      .select(col("shard_id"), col("version")).distinct()
    puts.join(live.withColumn("hit", lit(true)), Seq("shard_id", "version"), "left")
      .select(col("shard_id"), col("version"), col("file_hash"),
        coalesce(col("hit"), lit(false)).as("retained"))
      .orderBy(col("shard_id"), col("version"))
  }

  /** Manifest min/max pruning planner — file skipping as data (what
    * Iceberg evaluates against manifest entry bounds and parquet
    * against row-group statistics; Zone Maps, Graefe 2009): for a
    * doc_id band predicate covering the middle third of the id space
    * (data-derived, so the plan is reproducible), each q165 shard's
    * [min_doc, max_doc] either overlaps the band (must be read) or
    * proves itself skippable without being opened. The emitted table
    * IS the scan plan: per shard its bounds, the verdict, and the
    * token volume the verdict saves or costs — the numbers a
    * table-format reader's planning phase produces. Exact integers
    * end-to-end (band bounds by integer division).
    *
    * Shape: the q165 manifest aggregate + a broadcast 1-row band
    * relation + scan-level interval tests. Metadata plane: everything
    * after the manifest is shard-count-sized. */
  /** q232 packs at a finer budget than q100/q165 so the planner has a
    * multi-shard manifest to prune at every fixture SF. */
  private val PruneShardBudget = 5000L

  val q232ManifestPruning: QueryDef = sql(
    "q232_manifest_pruning",
    s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) AS BIGINT) AS h
       |    FROM documents),
       |packed AS (SELECT doc_id, n_tokens, h,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_tokens
       |  FROM t),
       |man AS (SELECT CAST(offset_tokens // $PruneShardBudget AS BIGINT) AS shard_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       |    CAST(MAX(doc_id) AS BIGINT) AS max_doc,
       |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |  FROM packed GROUP BY 1),
       |band AS (SELECT (MAX(doc_id) * 1) // 3 AS lo, (MAX(doc_id) * 2) // 3 AS hi
       |         FROM t)
       |SELECT m.shard_id, m.n_docs, m.min_doc, m.max_doc, m.total_tokens,
       |  CAST(band.lo AS BIGINT) AS band_lo, CAST(band.hi AS BIGINT) AS band_hi,
       |  NOT (m.max_doc < band.lo OR m.min_doc > band.hi) AS must_read
       |FROM man m, band
       |ORDER BY m.shard_id""".stripMargin) { (s, dir) =>
    val packed = shardPacked(s, dir)
      .withColumn("p_shard", expr(s"offset_tokens div $PruneShardBudget"))
    val man = packed.groupBy(col("p_shard").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).cast("long").as("min_doc"),
        max(col("doc_id")).cast("long").as("max_doc"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
    val band = packed.agg(
      expr("(MAX(doc_id) * 1) div 3").as("lo"), expr("(MAX(doc_id) * 2) div 3").as("hi"))
    man.crossJoin(broadcast(band))
      .select(col("shard_id"), col("n_docs"), col("min_doc"), col("max_doc"),
        col("total_tokens"), col("lo").cast("long").as("band_lo"),
        col("hi").cast("long").as("band_hi"),
        (!(col("max_doc") < col("lo") || col("min_doc") > col("hi"))).as("must_read"))
      .orderBy(col("shard_id"))
  }

  /** Pareto-front (skyline) document selection — Börzsönyi et al.
    * ICDE'01's operator on the curation trade-off every budgeted
    * pipeline faces: maximize quality, minimize token cost; a doc is
    * selected iff NO other doc is at least as good on both axes and
    * strictly better on one. For 2-D the skyline is a sorted prefix-min
    * walk: order by (quality desc, tokens asc, doc_id) and keep docs
    * whose token count undercuts every predecessor's (duplicate
    * (quality, tokens) points keep the lowest doc_id — the documented
    * point-dedup convention that makes the walk total). The prefix min
    * is BLOCK-PARTITIONED like q204's prefix sum (per-quality-block
    * running mins + a ≤101-row exclusive block-min relation — min
    * decomposes over the same split), so the inherently sequential walk
    * never sits on one global partition; the oracle states one global
    * window, proving the decomposition.
    *
    * Shape: scan-level scoring + q204's block-window device + a
    * broadcast block-offset relation. Output is front-sized. */
  val q233SkylineSelect: QueryDef = sql(
    "q233_skyline_select",
    """WITH q AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(FLOOR(1000.0 *
      |      ((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |        * (1.0 - CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(toks))
      |        * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0))) AS BIGINT) AS quality_kilo
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |w AS (SELECT doc_id, n_tokens, quality_kilo,
      |        MIN(n_tokens) OVER (ORDER BY quality_kilo DESC, n_tokens, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix_min
      |      FROM q)
      |SELECT doc_id, quality_kilo, n_tokens
      |FROM w
      |WHERE prefix_min IS NULL OR n_tokens < prefix_min
      |ORDER BY quality_kilo DESC, n_tokens, doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val q = docsWithTokens(s, dir)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop", expr("size(filter(toks, x -> x = 'the' OR x = 'a'))"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .select(col("doc_id"), col("n_tokens"),
        floor(lit(1000.0) *
          ((col("n_uniq").cast("double") / col("n_tokens")) *
            (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
            least(lit(1.0), col("n_tokens").cast("double") / 50.0))).cast("long")
          .as("quality_kilo"))
      .withColumn("blk", col("quality_kilo"))
    // exclusive min over strictly-better quality blocks (quality is
    // already integer-kilo, so the block IS the quality value)
    val offsets = q.groupBy(col("blk")).agg(min(col("n_tokens")).as("blk_min"))
      .withColumn("blk_offset_min", min(col("blk_min")).over(
        Window.orderBy(col("blk").desc).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("blk"), col("blk_offset_min"))
    val within = Window.partitionBy(col("blk"))
      .orderBy(col("quality_kilo").desc, col("n_tokens"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    q.join(broadcast(offsets), Seq("blk"))
      .withColumn("prefix_min",
        least(coalesce(min(col("n_tokens")).over(within), lit(Long.MaxValue)),
          coalesce(col("blk_offset_min"), lit(Long.MaxValue))))
      .filter(col("prefix_min") === Long.MaxValue || col("n_tokens") < col("prefix_min"))
      .select(col("doc_id"), col("quality_kilo"), col("n_tokens"))
      .orderBy(col("quality_kilo").desc, col("n_tokens"), col("doc_id"))
  }

  /** Systematic PPS sampling — probability-proportional-to-size draw
    * (Madow 1949; Hansen & Hurwitz 1943; the survey-statistics
    * workhorse) done EXACTLY: k = 100 selection points march through
    * the cumulative char-weight axis at a fixed integer step from a
    * deterministic md5 offset, and a document's multiplicity is the
    * count of points inside its weight interval — big documents can
    * be hit more than once (the with-replacement systematic variant,
    * declared). Against q107 (uniform md5 thinning) and q68
    * (equal-rate strata) this is the budget-faithful sampler: source
    * share of the SAMPLE tracks source share of the TOKEN MASS, not
    * of the doc count. All integers — cumulative sums, one ceil-div
    * per interval end, point range capped at off + k·step so the
    * total is EXACTLY k at any corpus (spec + planted two-doc case
    * where weight ratio dictates multiplicity). The cumulative window
    * is doc-ordered; at 100 TB it block-partitions by source like
    * q204 (same decomposition proof shape). */
  val q262PpsSample: QueryDef = sql(
    "q262_pps_sample",
    """WITH u AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w FROM documents),
      |cum AS (SELECT doc_id, source, w,
      |    CAST(SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cend
      |  FROM u),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, CAST(100 AS BIGINT) AS k FROM u),
      |par AS (SELECT tw, k, tw // k AS step,
      |    CAST(('0x' || substr(md5('pps:corpus'), 1, 8)) AS BIGINT) % (tw // k) AS off
      |  FROM tot),
      |m AS (SELECT c.source, c.w,
      |    GREATEST(0, (LEAST(c.cend, p.off + p.k * p.step) - p.off + p.step - 1) // p.step)
      |      - GREATEST(0, (LEAST(c.cend - c.w, p.off + p.k * p.step) - p.off + p.step - 1)
      |          // p.step) AS mult
      |  FROM cum c CROSS JOIN par p)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(w) AS BIGINT) AS sum_w,
      |  CAST(SUM(mult) AS BIGINT) AS n_selected,
      |  CAST((CAST(1000000 AS BIGINT) * SUM(w)) // (SELECT tw FROM tot) AS BIGINT)
      |    AS weight_share_micro,
      |  CAST((CAST(1000000 AS BIGINT) * SUM(mult)) // (SELECT k FROM tot) AS BIGINT)
      |    AS sample_share_micro
      |FROM m
      |GROUP BY 1
      |ORDER BY source""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val u = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("w"))
    val cum = u.withColumn("cend",
      sum(col("w")).over(Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
    val par = u.agg(sum(col("w")).as("tw"))
      .select(col("tw"), lit(100L).as("k"), expr("tw DIV 100").as("step"))
      .withColumn("off", expr(
        "CAST(conv(substring(md5('pps:corpus'), 1, 8), 16, 10) AS BIGINT) % step"))
    val m = cum.crossJoin(broadcast(par))
      .withColumn("mult",
        expr("""GREATEST(0L, (LEAST(cend, off + k * step) - off + step - 1) DIV step)
               | - GREATEST(0L, (LEAST(cend - w, off + k * step) - off + step - 1) DIV step)"""
          .stripMargin))
    m.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"), sum(col("w")).as("sum_w"),
        sum(col("mult")).cast("long").as("n_selected"),
        expr("(1000000L * sum(w)) DIV first(tw)").as("weight_share_micro"),
        expr("(1000000L * sum(mult)) DIV first(k)").as("sample_share_micro"))
      .orderBy(col("source"))
  }

  /** Repeat-epoch budget allocation under data constraint (Muennighoff
    * et al. NeurIPS 2023, "Scaling data-constrained language models"):
    * when the token budget EXCEEDS the unique corpus, sources are
    * repeated — but repeated epochs decay in value, so the question is
    * which source earns its 2nd/3rd epoch before another earns its 1st.
    * Marginal utility of source s's e-th epoch is modeled q_s·T_s·2^{1−e}
    * (quality-weighted tokens, halving per repeat — the dyadic decay
    * keeps every number an exact BIGINT shift); the greedy that fills the
    * budget in descending marginal utility is OPTIMAL for this separable
    * diminishing-returns objective, and per-source marginals strictly
    * decrease, so the global greedy order is automatically prefix-closed
    * per source (epoch e admitted ⇒ e−1 admitted earlier).
    *
    * One corpus pass builds (T_s, q_s) exactly; everything after —
    * candidate epochs, the descending-utility running token sum, the
    * budget cut — runs on the sources×6 relation through one ordered
    * window. Budget = floor(1.5 × ΣT). */
  val q276EpochAllocation: QueryDef = sql(
    "q276_epoch_allocation",
    """WITH src AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks,
      |    CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS dtoks
      |  FROM documents GROUP BY 1),
      |q AS (SELECT source, toks, (dtoks * 1000000) // toks AS quality_micro FROM src),
      |budget AS (SELECT (3 * SUM(toks)) // 2 AS b FROM q),
      |eps(e) AS (VALUES (1), (2), (3), (4), (5), (6)),
      |cand AS (
      |  SELECT q.source, q.toks, q.quality_micro, eps.e,
      |    (q.quality_micro * q.toks) >> (eps.e - 1) AS util
      |  FROM q, eps),
      |ordered AS (
      |  SELECT *, SUM(toks) OVER (ORDER BY util DESC, source, e
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM cand),
      |kept AS (SELECT * FROM ordered, budget WHERE cum <= budget.b)
      |SELECT q.source, q.toks, q.quality_micro,
      |  CAST(COALESCE(k.epochs, 0) AS BIGINT) AS epochs,
      |  CAST(COALESCE(k.epochs, 0) * q.toks AS BIGINT) AS scheduled_toks
      |FROM q LEFT JOIN (SELECT source, COUNT(*) AS epochs FROM kept GROUP BY 1) k
      |  ON k.source = q.source
      |ORDER BY q.source""".stripMargin) { (s, dir) =>
    import s.implicits._
    val src = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("toksArr", split(col("text"), " "))
      .groupBy(col("source"))
      .agg(sum(size(col("toksArr"))).cast("long").as("toks"),
        sum(size(array_distinct(col("toksArr")))).cast("long").as("dtoks"))
    val q = src.select(col("source"), col("toks"),
      expr("(dtoks * 1000000L) DIV toks").as("quality_micro"))
      .stageBoundary // source-sized; feeds candidates AND the final join
    val budget = q.agg(expr("(3 * SUM(toks)) DIV 2").as("b"))
    val eps = Seq(1, 2, 3, 4, 5, 6).toDF("e")
    val cand = q.crossJoin(broadcast(eps))
      .withColumn("util", expr("shiftright(quality_micro * toks, e - 1)"))
    val ordered = cand.withColumn("cum",
      sum(col("toks")).over(Window.orderBy(col("util").desc, col("source"), col("e"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val kept = ordered.crossJoin(broadcast(budget)).filter(col("cum") <= col("b"))
    q.join(kept.groupBy(col("source")).agg(count(lit(1)).as("epochs")),
        Seq("source"), "left")
      .select(col("source"), col("toks"), col("quality_micro"),
        coalesce(col("epochs"), lit(0L)).as("epochs"),
        (coalesce(col("epochs"), lit(0L)) * col("toks")).as("scheduled_toks"))
      .orderBy(col("source"))
  }

  /** Greedy maximum-coverage source selection (Nemhauser, Wolsey &
    * Fisher 1978: the (1−1/e) greedy; Hochbaum's textbook max-cover):
    * which THREE sources together cover the most distinct 5-gram
    * shingles — the "which corpora to license next" question, where
    * value is marginal novelty (q213's jackknife measures influence of a
    * source on a metric; this measures raw coverage complementarity).
    * Three unrolled greedy rounds, each = one anti-join of the
    * (source, shingle) relation against the shingles already covered +
    * one max-count argmax (ties to the lexically-lowest source).
    *
    * The corpus pass happens once (shingle→distinct per source); rounds
    * run on that relation. Shingles are 60-bit md5 ints (the q31
    * device), so the oracle reproduces them exactly. */
  val q277CoverageSelect: QueryDef = sql(
    "q277_coverage_select",
    """WITH toks AS (
      |  SELECT source, doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT DISTINCT source,
      |    CAST(('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15)) AS BIGINT) AS g
      |  FROM toks, UNNEST(range(1, len(w) - 3)) AS t(i)
      |  WHERE len(w) >= 5),
      |p1 AS (SELECT source FROM grams GROUP BY 1
      |       ORDER BY COUNT(*) DESC, source LIMIT 1),
      |c1 AS (SELECT DISTINCT g FROM grams JOIN p1 USING (source)),
      |g2 AS (SELECT grams.source, grams.g FROM grams
      |       LEFT JOIN c1 ON c1.g = grams.g
      |       WHERE c1.g IS NULL AND grams.source NOT IN (SELECT source FROM p1)),
      |p2 AS (SELECT source FROM g2 GROUP BY 1
      |       ORDER BY COUNT(*) DESC, source LIMIT 1),
      |c2 AS (SELECT g FROM c1 UNION SELECT DISTINCT g FROM g2 JOIN p2 USING (source)),
      |g3 AS (SELECT grams.source, grams.g FROM grams
      |       LEFT JOIN c2 ON c2.g = grams.g
      |       WHERE c2.g IS NULL AND grams.source NOT IN (SELECT source FROM p1)
      |         AND grams.source NOT IN (SELECT source FROM p2)),
      |p3 AS (SELECT source FROM g3 GROUP BY 1
      |       ORDER BY COUNT(*) DESC, source LIMIT 1),
      |picks AS (
      |  SELECT 1 AS pick, source,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS marginal FROM p1
      |  UNION ALL
      |  SELECT 2, p2.source,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM g2 JOIN p2 USING (source)) FROM p2
      |  UNION ALL
      |  SELECT 3, p3.source,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM g3 JOIN p3 USING (source)) FROM p3)
      |SELECT CAST(pick AS BIGINT) AS pick, source, marginal,
      |  CAST(SUM(marginal) OVER (ORDER BY pick
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_coverage
      |FROM picks
      |ORDER BY pick""".stripMargin) { (s, dir) =>
    import s.implicits._
    val grams = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 5)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(w) - 5), i -> " +
          "CAST(conv(substring(md5(array_join(slice(w, i + 1, 5), ' ')), 1, 15), 16, 10) AS BIGINT))"))
        .as("g"))
      .distinct()
      .stageBoundary // (source, shingle)-sized; read by every round
    def pickBest(cands: DataFrame): String =
      cands.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("source")).limit(1)
        .head().getString(0)
    var covered: DataFrame = null
    var remaining = grams
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (round <- 1 to 3) {
      val best = pickBest(remaining)
      val newCov = remaining.filter(col("source") === best).select(col("g")).distinct()
        .stageBoundary
      val marginal = newCov.count()
      picks += ((round, best, marginal))
      covered = if (covered == null) newCov else covered.unionAll(newCov)
      remaining = remaining.filter(col("source") =!= best)
        .join(newCov.withColumnRenamed("g", "gc"), col("g") === col("gc"), "left_anti")
        .stageBoundary
    }
    picks.toSeq.toDF("pick", "source", "marginal")
      .withColumn("pick", col("pick").cast("long"))
      .withColumn("cum_coverage", sum(col("marginal")).over(
        Window.orderBy(col("pick"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("pick"))
  }

  /** Chao1 vocabulary-richness estimate per language (Chao Scand. J.
    * Stat. 1984; the bias-corrected form): V + F₁(F₁−1)/(2(F₂+1)),
    * where F₁/F₂ are the singleton/doubleton counts — "how much
    * vocabulary exists that this corpus slice has NOT seen yet", the
    * ecology estimator NLP borrowed for coverage planning. q202 (Heaps)
    * fits observed growth and q215 (Good–Turing) reallocates observed
    * mass; Chao1 extrapolates to the unseen total, which is the number
    * a "do we need more ja/zh data?" decision actually wants.
    *
    * One token pass → (lang, word) counts (map-side combined), then a
    * lang-keyed count-of-counts fold; every input to the estimate is an
    * exact BIGINT, the estimate itself one identical double expression.
    * Output is language-sized. */
  val q289Chao1: QueryDef = sql(
    "q289_chao1",
    """WITH wc AS (
      |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY 1, 2),
      |cc AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS v,
      |    CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f1,
      |    CAST(COALESCE(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f2,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens
      |  FROM wc GROUP BY 1)
      |SELECT lang, n_tokens, v, f1, f2,
      |  CAST(v AS DOUBLE) + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
      |    / (2.0 * CAST(f2 + 1 AS DOUBLE)) AS chao1,
      |  1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS coverage
      |FROM cc
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    val wc = Tables.fanOut(Tables.documents(s, dir))
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    wc.groupBy(col("lang"))
      .agg(count(lit(1)).as("v"),
        coalesce(sum(when(col("c") === 1L, 1L).otherwise(0L)), lit(0L)).as("f1"),
        coalesce(sum(when(col("c") === 2L, 1L).otherwise(0L)), lit(0L)).as("f2"),
        sum(col("c")).as("n_tokens"))
      .select(col("lang"), col("n_tokens"), col("v"), col("f1"), col("f2"),
        expr("""CAST(v AS DOUBLE) + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
               |  / (2.0D * CAST(f2 + 1 AS DOUBLE))""".stripMargin).as("chao1"),
        (lit(1.0) - col("f1").cast("double") / col("n_tokens").cast("double")).as("coverage"))
      .orderBy(col("lang"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian ICDE'07) — the third
    * leg of the privacy triad: q195 asks "is the class big enough"
    * (k-anonymity), q216 "are the sensitive values varied enough"
    * (l-diversity); t-closeness asks whether the class's sensitive-value
    * DISTRIBUTION leaks — a class can be large and varied yet still
    * 90% one source when the corpus is 5%. t is the total-variation
    * distance between the class and global source distributions
    * (the categorical EMD), computed EXACTLY: Σ|n_cs·N − N_s·n_c| over
    * sources is an exact BIGINT cross-multiplication, and t_micro is one
    * integer division — no per-class float distributions anywhere.
    * Classes are q195's (lang, length-bucket) QI; one pass builds the
    * class×source counts, the source margins broadcast. */
  val q316TCloseness: QueryDef = sql(
    "q316_t_closeness",
    """WITH cs AS (
      |  SELECT lang, CAST(n_chars // 100 AS BIGINT) AS len_bucket, source,
      |    CAST(COUNT(*) AS BIGINT) AS n_cs
      |  FROM documents GROUP BY 1, 2, 3),
      |cls AS (SELECT lang, len_bucket, CAST(SUM(n_cs) AS BIGINT) AS n_c
      |        FROM cs GROUP BY 1, 2),
      |marg AS (SELECT source, CAST(SUM(n_cs) AS BIGINT) AS n_s FROM cs GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM marg),
      |dev AS (
      |  SELECT cls.lang, cls.len_bucket, cls.n_c,
      |    ABS(COALESCE(cs.n_cs, 0) * tot.n - marg.n_s * cls.n_c) AS num
      |  FROM cls CROSS JOIN marg CROSS JOIN tot
      |  LEFT JOIN cs ON cs.lang = cls.lang AND cs.len_bucket = cls.len_bucket
      |    AND cs.source = marg.source)
      |SELECT lang, len_bucket, CAST(MAX(n_c) AS BIGINT) AS n_docs,
      |  CAST(SUM(num) * 1000000 // (2 * MAX(n_c) * MAX(tot2.n)) AS BIGINT) AS t_micro,
      |  SUM(num) * 1000000 // (2 * MAX(n_c) * MAX(tot2.n)) > 300000 AS breach
      |FROM dev, (SELECT CAST(SUM(n_cs) AS BIGINT) AS n FROM cs) tot2
      |GROUP BY lang, len_bucket
      |ORDER BY lang, len_bucket""".stripMargin) { (s, dir) =>
    val cs = Tables.fanOut(Tables.documents(s, dir))
      .groupBy(col("lang"), expr("n_chars DIV 100").as("len_bucket"), col("source"))
      .agg(count(lit(1)).as("n_cs"))
      .stageBoundary // class×source-sized; three consumers
    val cls = cs.groupBy(col("lang"), col("len_bucket")).agg(sum(col("n_cs")).as("n_c"))
    val marg = cs.groupBy(col("source")).agg(sum(col("n_cs")).as("n_s"))
    val tot = marg.agg(sum(col("n_s")).as("n"))
    val dev = cls.crossJoin(broadcast(marg)).crossJoin(broadcast(tot))
      .join(cs, Seq("lang", "len_bucket", "source"), "left")
      .select(col("lang"), col("len_bucket"), col("n_c"),
        abs(coalesce(col("n_cs"), lit(0L)) * col("n") - col("n_s") * col("n_c")).as("num"),
        col("n"))
    dev.groupBy(col("lang"), col("len_bucket"))
      .agg(max(col("n_c")).as("n_docs"),
        expr("CAST(SUM(num) * 1000000L DIV (2 * MAX(n_c) * MAX(n)) AS BIGINT)").as("t_micro"))
      .select(col("lang"), col("len_bucket"), col("n_docs"), col("t_micro"),
        (col("t_micro") > 300000L).as("breach"))
      .orderBy(col("lang"), col("len_bucket"))
  }

  /** Winnowing fingerprint overlap (Schleimer–Wilkerson–Aiken SIGMOD'03,
    * the MOSS device): hash every word-5-gram shingle, slide a window of
    * w = 4 consecutive shingle positions, and keep each window's MINIMUM
    * hash — the selection lemma guarantees any shared run of ≥ k + w − 1
    * tokens contributes at least one COMMON fingerprint while storing
    * only ~2/(w+1) of the shingles, and because selection is per-window
    * LOCAL, fingerprints survive the global position shift that breaks
    * exact hashing (q30) — the contrast with q26's whole-doc min/max
    * signature and q177's full n-gram containment: same guarantee class
    * at a w-fold smaller index. Cross-source pairs sharing ≥ 2 capped
    * fingerprints emit with a containment score. The fixture has no
    * organic shifted copies, so the face synthesizes re-ingests
    * deterministically (the q194/q222 device): every %31 doc reappears
    * at doc_id + 3000000 under source 'reingest' with a 2-token prefix
    * — exact dedup misses it, winnowing catches it, which is the point.
    *
    * Scale posture: one scan to shingle-hash (md5 → 48-bit ints, exact
    * in both engines), per-doc window minima (one partitioned window,
    * no self-join — the fingerprint SET is just the distinct window
    * minima), then a fingerprint-keyed equi-join whose fan-out is
    * df-capped at 50 docs per fingerprint (the q102 hot-key device), so
    * candidate volume is Σ min(df,50)² — never all-pairs. */
  val q326Winnowing: QueryDef = sql(
    "q326_winnowing",
    """WITH raw AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |aug AS (SELECT doc_id, source, toks FROM raw
      |        UNION ALL
      |        SELECT doc_id + 3000000, 'reingest',
      |               list_concat(['copy', 'notice:'], toks)
      |        FROM raw WHERE doc_id % 31 = 0),
      |base AS (SELECT doc_id, source, toks FROM aug WHERE len(toks) >= 8),
      |sh AS (SELECT doc_id, i - 1 AS p,
      |         CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 4), ' ')), 1, 12)) AS BIGINT) AS h
      |       FROM base, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)),
      |wm AS (SELECT doc_id, p,
      |         MIN(h) OVER (PARTITION BY doc_id ORDER BY p
      |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
      |         COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
      |       FROM sh),
      |fp AS (SELECT DISTINCT doc_id, wmin AS h FROM wm WHERE p <= n_sh - 4),
      |hd AS (SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= 50),
      |fpc AS (SELECT f.doc_id, f.h FROM fp f JOIN hd USING (h)),
      |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM fpc GROUP BY 1),
      |src AS (SELECT doc_id, source FROM base),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |            CAST(COUNT(*) AS BIGINT) AS n_shared
      |          FROM fpc a JOIN fpc b ON b.h = a.h AND a.doc_id < b.doc_id
      |          JOIN src sa ON sa.doc_id = a.doc_id
      |          JOIN src sb ON sb.doc_id = b.doc_id
      |          WHERE sa.source <> sb.source
      |          GROUP BY 1, 2)
      |SELECT p.doc_a, p.doc_b, p.n_shared, ca.nf AS fp_a, cb.nf AS fp_b,
      |  CAST(p.n_shared AS DOUBLE) / LEAST(ca.nf, cb.nf) AS containment
      |FROM pairs p
      |JOIN cnt ca ON ca.doc_id = p.doc_a
      |JOIN cnt cb ON cb.doc_id = p.doc_b
      |WHERE p.n_shared >= 2
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val raw = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
    val aug = raw.unionByName(raw.filter(col("doc_id") % 31 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), lit("reingest").as("source"),
        concat(array(lit("copy"), lit("notice:")), col("toks")).as("toks")))
    val base = aug.filter(size(col("toks")) >= 8).cachedStageBoundary
    val sh = base.select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks) - 5), i -> " +
        "CAST(conv(substring(md5(concat_ws(' ', slice(toks, i + 1, 5))), 1, 12), 16, 10) AS BIGINT))")))
      .toDF("doc_id", "p", "h")
    val byP = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val fp = sh
      .withColumn("wmin", min(col("h")).over(byP.rowsBetween(0, 3)))
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("p") <= col("n_sh") - 4)
      .select(col("doc_id"), col("wmin").as("h")).distinct().cachedStageBoundary
    // hot-fingerprint cap: a boilerplate shingle shared by thousands of
    // docs must not quadratically explode the candidate join (q102)
    val hd = fp.groupBy(col("h")).agg(count(lit(1)).as("dfh"))
      .filter(col("dfh") <= 50).select(col("h"))
    val fpc = fp.join(hd, "h").cachedStageBoundary
    val cnt = fpc.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val srcRel = base.select(col("doc_id"), col("source"))
    val pairs = fpc.select(col("doc_id").as("doc_a"), col("h"))
      .join(fpc.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .join(srcRel.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(srcRel.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .filter(col("src_a") =!= col("src_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
    pairs
      .join(cnt.select(col("doc_id").as("doc_a"), col("nf").as("fp_a")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("nf").as("fp_b")), "doc_b")
      .filter(col("n_shared") >= 2)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("fp_a"), col("fp_b"),
        (col("n_shared").cast("double") / least(col("fp_a"), col("fp_b"))).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Encoding-integrity (mojibake) audit — the ingest QA gate every
    * web-scale text pipeline runs before tokenization: per source,
    * count documents carrying (a) U+FFFD replacement characters (a
    * decoder already gave up), (b) C0 control bytes outside tab/newline
    * (binary bleed-through), (c) the 'Ã'-family double-encoding
    * signature (UTF-8 read as Latin-1 and re-encoded — 'é' becomes
    * 'Ã©'), and (d) non-breaking spaces masquerading as word joiners
    * (they silently glue tokens through a whitespace tokenizer). The
    * synthetic fixture is clean ASCII, so each defect class is injected
    * deterministically on its own residue class (the q194/q222
    * synthesis device) — the audit must find EXACTLY the planted sets,
    * making over- and under-matching both visible in the hash.
    *
    * Scale posture: one scan, per-doc flags from split-counting (no
    * regex backtracking in the hot path), one source-sized aggregate. */
  val q327MojibakeAudit: QueryDef = {
    // defect markers pinned once as ASCII escape spellings and
    // interpolated into BOTH faces at runtime -- the source file stays
    // ASCII and the two engines provably inject byte-identical text
    val repl = "\uFFFD"            // replacement character
    val nbsp = "\u00A0"            // non-breaking space
    val mojN = "\u00C3\u00A9"      // UTF-8 e-acute re-read as Latin-1
    val moji = s" th$mojN caf$mojN"
    sql(
      "q327_mojibake_audit",
      s"""WITH aug AS (
       |  SELECT doc_id, source,
       |    text
       |      || CASE WHEN doc_id % 13 = 0 THEN '$moji' ELSE '' END
       |      || CASE WHEN doc_id % 17 = 0 THEN ' $repl$repl' ELSE '' END
       |      || CASE WHEN doc_id % 19 = 0 THEN chr(7) || chr(27) ELSE '' END
       |      || CASE WHEN doc_id % 23 = 0 THEN 'a' || '$nbsp' || 'b' ELSE '' END AS text
       |  FROM documents),
       |flags AS (
       |  SELECT source,
       |    CASE WHEN len(string_split(text, '$repl')) > 1 THEN 1 ELSE 0 END AS f_repl,
       |    CASE WHEN len(regexp_extract_all(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) > 0
       |         THEN 1 ELSE 0 END AS f_ctrl,
       |    CASE WHEN len(string_split(text, '$mojN')) > 1 THEN 1 ELSE 0 END AS f_moji,
       |    CASE WHEN len(string_split(text, '$nbsp')) > 1 THEN 1 ELSE 0 END AS f_nbsp
       |  FROM aug)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(f_repl) AS BIGINT) AS n_replacement,
       |  CAST(SUM(f_ctrl) AS BIGINT) AS n_control,
       |  CAST(SUM(f_moji) AS BIGINT) AS n_mojibake,
       |  CAST(SUM(f_nbsp) AS BIGINT) AS n_nbsp,
       |  CAST(SUM(CASE WHEN f_repl + f_ctrl + f_moji + f_nbsp > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dirty
       |FROM flags GROUP BY source
       |ORDER BY source""".stripMargin) { (s, dir) =>
      def splitHits(c: Column, needle: String): Column =
        when(size(split(c, java.util.regex.Pattern.quote(needle), -1)) > 1, 1).otherwise(0)
      val aug = Tables.fanOut(Tables.documents(s, dir)).select(col("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 13 === 0, moji).otherwise(""),
          when(col("doc_id") % 17 === 0, s" $repl$repl").otherwise(""),
          when(col("doc_id") % 19 === 0, "\u0007\u001B").otherwise(""),
          when(col("doc_id") % 23 === 0, s"a${nbsp}b").otherwise("")).as("text"))
      aug.select(col("source"),
          splitHits(col("text"), repl).as("f_repl"),
          when(size(regexp_extract_all(col("text"),
            lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"), lit(0))) > 0, 1)
            .otherwise(0).as("f_ctrl"),
          splitHits(col("text"), mojN).as("f_moji"),
          splitHits(col("text"), nbsp).as("f_nbsp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("f_repl")).as("n_replacement"),
          sum(col("f_ctrl")).as("n_control"),
          sum(col("f_moji")).as("n_mojibake"),
          sum(col("f_nbsp")).as("n_nbsp"),
          sum(when(col("f_repl") + col("f_ctrl") + col("f_moji") + col("f_nbsp") > 0, 1)
            .otherwise(0)).as("n_dirty"))
        .orderBy(col("source"))
    }
  }

  /** Rank-biased overlap (Webber–Moffat–Zobel TOIS'10) between the BM25
    * ranking (q136's exact formula off the shared postings) and a
    * TF-IDF ranking of the same queries — the top-weighted agreement
    * score used to answer "did swapping the retriever actually change
    * what users see?", where Kendall/Spearman (q296) mis-serve because
    * they weight rank 100 like rank 1. Truncated RBO@10 with
    * persistence p = ½: RBO = Σ_{d=1..10} (½)^d · |A_d ∩ B_d| / d.
    * With dyadic p every term is an exact rational, so the face
    * computes the EXACT integer rbo_scaled = Σ_d ov_d · 2^{10−d} ·
    * (2520/d) (2520 = lcm 1..10; K = 2¹⁰·2520) and divides once at
    * emit — no float accumulation order to diverge on (the q143
    * integer-trajectory device applied to rank agreement). Queries
    * whose top-10s are disjoint emit 0, not nothing.
    *
    * Scale posture: both legs ride the persisted postings with
    * broadcast query terms (the q136 plan); the RBO join is
    * (query, doc)-keyed over two 10-row-per-query relations, and the
    * weight relation is 10 rows broadcast. */
  val q333Rbo: QueryDef = sql(
    "q333_rbo",
    s"""WITH $bm25PrefixSql,
       |bsc AS (
       |${bm25ScoreSql("qt")}),
       |ar AS (SELECT query_id, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(raw, 6) DESC, doc_id) AS ra
       |       FROM bsc),
       |tsc AS (SELECT q.query_id, t.doc_id,
       |          SUM(t.tf * LN(CAST(s.n_docs AS DOUBLE) / d.df)) AS raw
       |        FROM qt q
       |        JOIN tf t ON t.word = q.word AND t.doc_id <> q.query_id
       |        JOIN df d ON d.word = q.word, stats s
       |        GROUP BY 1, 2),
       |br AS (SELECT query_id, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(raw, 6) DESC, doc_id) AS rb
       |       FROM tsc),
       |pr AS (SELECT a.query_id, GREATEST(a.ra, b.rb) AS m
       |       FROM (SELECT * FROM ar WHERE ra <= 10) a
       |       JOIN (SELECT * FROM br WHERE rb <= 10) b USING (query_id, doc_id)),
       |w AS (SELECT d, (CAST(1 AS BIGINT) << (10 - d)) * (2520 // d) AS wgt
       |      FROM (SELECT unnest(range(1, 11)) AS d)),
       |com AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common FROM pr GROUP BY 1),
       |rs AS (SELECT pr.query_id, CAST(SUM(w.wgt) AS BIGINT) AS rbo_scaled
       |       FROM pr JOIN w ON w.d >= pr.m GROUP BY 1),
       |ql AS (SELECT DISTINCT query_id FROM qt)
       |SELECT ql.query_id,
       |  COALESCE(com.n_common, 0) AS n_common,
       |  COALESCE(rs.rbo_scaled, 0) AS rbo_scaled,
       |  CAST(COALESCE(rs.rbo_scaled, 0) AS DOUBLE) / 2580480.0 AS rbo
       |FROM ql LEFT JOIN com USING (query_id) LEFT JOIN rs USING (query_id)
       |ORDER BY query_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val (tf, dl, df) = postingsIndex(s, Tables.documents(s, dir))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("word"))
    val byQ = Window.partitionBy(col("query_id"))
    val bm25Term =
      log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val tfidfTerm = col("tf") * log(col("n_docs").cast("double") / col("df"))
    // BOTH scorers ride ONE postings join and ONE (query, doc) aggregate
    // — the legs differ only in which sum they rank on
    val scored = broadcast(qt).join(tf, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(bm25Term).as("raw_a"), sum(tfidfTerm).as("raw_b"))
      .stageBoundary // (query, doc)-sized; both rank legs read it
    // rank on the ROUNDED scores (the q348 discipline): the TF-IDF leg
    // has no length term, so equal matched (word, tf) multisets tie
    // exactly and a raw-float rank would break engine-dependently
    val ar = scored
      .withColumn("ra", row_number().over(byQ.orderBy(round(col("raw_a"), 6).desc, col("doc_id"))))
      .filter(col("ra") <= 10).select(col("query_id"), col("doc_id"), col("ra"))
    val br = scored
      .withColumn("rb", row_number().over(byQ.orderBy(round(col("raw_b"), 6).desc, col("doc_id"))))
      .filter(col("rb") <= 10).select(col("query_id"), col("doc_id"), col("rb"))
    val pr = ar.join(br, Seq("query_id", "doc_id"))
      .select(col("query_id"), greatest(col("ra"), col("rb")).as("m"))
    import s.implicits._
    val w = (1 to 10).map(d => (d.toLong, (1L << (10 - d)) * (2520L / d))).toDF("d", "wgt")
    val com = pr.groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    val rs = pr.join(broadcast(w), col("d") >= col("m"))
      .groupBy(col("query_id")).agg(sum(col("wgt")).as("rbo_scaled"))
    val ql = qt.select(col("query_id")).distinct()
    ql.join(com, Seq("query_id"), "left").join(rs, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("rbo_scaled"), lit(0L)).as("rbo_scaled"),
        (coalesce(col("rbo_scaled"), lit(0L)).cast("double") / lit(2580480.0)).as("rbo"))
      .orderBy(col("query_id"))
  }

  /** Hill tail-index estimator (Hill, Ann. Stat. 1975) of the word-
    * frequency distribution per language — the corpus-law companion to
    * q201's Zipf SLOPE: the Hill estimator reads the tail exponent
    * directly from the top-k order statistics,
    * α̂ = k / Σ_{i≤k} ln(X_(i)/X_(k+1)), without fitting a regression,
    * and is the standard way to decide how heavy a corpus's head
    * really is (mixing weights, cap policies, and heavy-hitter budgets
    * all key off α). k adapts to the vocabulary:
    * k = min(100, n_distinct − 1) — the standard top-fraction practice
    * — and languages with fewer than 11 distinct words are below
    * estimator resolution and are omitted rather than emitted with a
    * fake tail.
    *
    * Float discipline: the 100 ln-ratio terms are exact-integer inputs
    * to the identical IEEE expression in both engines, summed over a
    * fixed 100-row set and ROUNDed to 6 dp (q136's device — the
    * accumulated ulp noise is ~1e-14 against a 5e-7 rounding bin).
    * Scale posture: one corpus word count, one per-lang top-(k+1)
    * window cut (WindowGroupLimit), one 100-row-per-lang aggregate. */
  val q334HillTail: QueryDef = sql(
    "q334_hill_tail",
    """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
      |w AS (SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
      |r AS (SELECT lang, word, c,
      |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, word) AS rk,
      |        COUNT(*) OVER (PARTITION BY lang) AS nd
      |      FROM w),
      |ks AS (SELECT lang, LEAST(100, nd - 1) AS k FROM r WHERE rk = 1 AND nd >= 11),
      |kv AS (SELECT r.lang, r.c AS ck FROM r JOIN ks ON ks.lang = r.lang AND r.rk = ks.k + 1),
      |top AS (SELECT r.lang, r.c FROM r JOIN ks ON ks.lang = r.lang AND r.rk <= ks.k)
      |SELECT t.lang, CAST(COUNT(*) AS BIGINT) AS k,
      |  CAST(MAX(kv.ck) AS BIGINT) AS x_k1,
      |  ROUND(COUNT(*) / SUM(LN(CAST(t.c AS DOUBLE) / kv.ck)), 6) AS hill_alpha
      |FROM top t JOIN kv USING (lang)
      |GROUP BY t.lang
      |ORDER BY t.lang""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Tables.fanOut(Tables.documents(s, dir))
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
    val r = w
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("c").desc, col("word"))))
      .withColumn("k", least(lit(100L), count(lit(1)).over(
        Window.partitionBy(col("lang"))) - 1))
      .filter(col("k") >= 10 && col("rk") <= col("k") + 1).cachedStageBoundary
    val kv = r.filter(col("rk") === col("k") + 1).select(col("lang"), col("c").as("ck"))
    r.filter(col("rk") <= col("k")).select(col("lang"), col("c"))
      .join(kv, "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("k"), max(col("ck")).as("x_k1"),
        round(count(lit(1)) / sum(log(col("c").cast("double") / col("ck"))), 6)
          .as("hill_alpha"))
      .orderBy(col("lang"))
  }

  /** Population stability index (the credit-scoring / ML-monitoring
    * drift score beside q225's KS statistic — PSI is what model-ops
    * dashboards actually alert on, with the 0.1/0.25 action bands):
    * document length distributions of the even and odd doc_id halves
    * compared per source over 10 fixed 200-char bins,
    * PSI = Σ_b (p_b − q_b) · ln(p_b / q_b), add-one smoothed so an
    * empty bin contributes a finite term (the standard production
    * guard — unsmoothed PSI is infinite the first time a bin empties,
    * which is exactly when you need the number). The split is the q62
    * md5 hash device, NOT doc_id parity — the fixture assigns sources
    * by doc_id residue, so a parity split would put a whole source in
    * one arm and compare nothing. Hash-split expected PSI is near zero
    * and anything large flags a REAL asymmetry — the A/A shape of q309
    * applied to drift monitoring.
    *
    * Exactness: bin counts are integers; the smoothed ratios feed one
    * identical IEEE expression per bin, 10 bins summed, ROUND 6 dp.
    * Scale posture: one scan → (source, half, bin) counts; the bin
    * grid is a 10-row broadcast; output is sources × 1 rows. */
  val q338PsiDrift: QueryDef = sql(
    "q338_psi_drift",
    """WITH d AS (SELECT source,
      |             CAST(('0x' || substr(md5('psi:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 2 AS half,
      |             LEAST(n_chars // 200, 9) AS bin
      |           FROM documents),
      |c AS (SELECT source, half, bin, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM d GROUP BY 1, 2, 3),
      |tot AS (SELECT source, half, CAST(SUM(n) AS BIGINT) AS t FROM c GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT source, b.bin
      |         FROM c, (SELECT unnest(range(0, 10)) AS bin) b),
      |m AS (SELECT g.source, g.bin,
      |        COALESCE(a.n, 0) AS na, COALESCE(bb.n, 0) AS nb,
      |        ta.t AS tta, tb.t AS ttb
      |      FROM grid g
      |      LEFT JOIN c a ON a.source = g.source AND a.bin = g.bin AND a.half = 0
      |      LEFT JOIN c bb ON bb.source = g.source AND bb.bin = g.bin AND bb.half = 1
      |      JOIN tot ta ON ta.source = g.source AND ta.half = 0
      |      JOIN tot tb ON tb.source = g.source AND tb.half = 1),
      |terms AS (SELECT source,
      |            (CAST(na + 1 AS DOUBLE) / (tta + 10) - CAST(nb + 1 AS DOUBLE) / (ttb + 10))
      |              * LN((CAST(na + 1 AS DOUBLE) / (tta + 10))
      |                   / (CAST(nb + 1 AS DOUBLE) / (ttb + 10))) AS term
      |          FROM m)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bins,
      |  ROUND(SUM(term), 6) AS psi
      |FROM terms GROUP BY 1
      |ORDER BY source""".stripMargin) { (s, dir) =>
    import s.implicits._
    val c = Tables.fanOut(Tables.documents(s, dir))
      .select(col("source"),
        (expr("CAST(conv(substring(md5(concat('psi:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS INT)") % 2)
          .as("half"),
        least(expr("n_chars DIV 200"), lit(9L)).as("bin"))
      .groupBy(col("source"), col("half"), col("bin")).agg(count(lit(1)).as("n"))
      .cachedStageBoundary
    val tot = c.groupBy(col("source"), col("half")).agg(sum(col("n")).as("t"))
    val grid = c.select(col("source")).distinct()
      .crossJoin(broadcast((0L to 9L).toDF("bin")))
    val m = grid
      .join(c.filter(col("half") === 0).select(col("source"), col("bin"), col("n").as("na")),
        Seq("source", "bin"), "left")
      .join(c.filter(col("half") === 1).select(col("source"), col("bin"), col("n").as("nb")),
        Seq("source", "bin"), "left")
      .join(tot.filter(col("half") === 0).select(col("source"), col("t").as("tta")), "source")
      .join(tot.filter(col("half") === 1).select(col("source"), col("t").as("ttb")), "source")
      .select(col("source"),
        coalesce(col("na"), lit(0L)).as("na"), coalesce(col("nb"), lit(0L)).as("nb"),
        col("tta"), col("ttb"))
    val pa = (col("na") + 1).cast("double") / (col("tta") + 10)
    val pb = (col("nb") + 1).cast("double") / (col("ttb") + 10)
    m.select(col("source"), ((pa - pb) * log(pa / pb)).as("term"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bins"), round(sum(col("term")), 6).as("psi"))
      .orderBy(col("source"))
  }

  /** Fixed-BUDGET stratified sample — the eval-set constructor: exactly
    * k = 20 documents per language, drawn uniformly without replacement
    * by md5-priority bottom-k (each doc's priority is a pure function
    * of doc_id, so the sample is reproducible across runs, engines, and
    * cluster sizes — no seed, no count pass). The deliberate contrast
    * with q68: a keep-FRACTION is a zero-shuffle scan filter but its
    * stratum sizes float with the data; an exact budget ("20 eval docs
    * per language, every release") costs one per-stratum top-k window —
    * WindowGroupLimit-pushed, so the sort cuts to k rows map-side
    * before the shuffle. That window is the PRICE of exactness, and
    * choosing between the two faces is a real pipeline decision this
    * pair of operators makes explicit.
    *
    * Ties are impossible (md5 of distinct ids), so the sample is
    * total-order deterministic. */
  val q342BottomkSample: QueryDef = sql(
    "q342_bottomk_sample",
    """SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id FROM (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
      |      md5('smp:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 20
      |ORDER BY lang, rk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(md5(concat(lit("smp:"), col("doc_id").cast("string"))), col("doc_id"))))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("rk").cast("long").as("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Dirichlet query-likelihood retrieval (Zhai & Lafferty SIGIR'01,
    * μ = 2000) — the third lexical scorer beside BM25 (q136) and TF-IDF
    * (q333's leg), closing the classic trio: documents rank by
    * P(q|d) under Dirichlet-smoothed language models. Computed in the
    * RANK-EQUIVALENT sparse decomposition
    *   score = Σ_{w∈q∩d} ln(1 + tf·|C|/(μ·cf_w)) + |q|·ln(μ/(dl+μ))
    * so only MATCHING postings join (the dense background mass folds
    * into the per-document length term) — the algebra that makes LM
    * retrieval affordable on an inverted index at all. Same postings,
    * same broadcast query terms, same WindowGroupLimit top-k as q136;
    * exact-integer inputs (tf, cf, dl, |C|, |q|) through one identical
    * IEEE expression, ROUND 6 emit, rank on raw. */
  val q348DirichletQl: QueryDef = sql(
    "q348_dirichlet_ql",
    s"""WITH $bm25PrefixSql,
       |cf AS (SELECT word, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       |coll AS (SELECT CAST(SUM(dl) AS BIGINT) AS c FROM dl),
       |qn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nq FROM qt GROUP BY 1),
       |mt AS (SELECT q.query_id, t.doc_id,
       |         SUM(LN(1.0 + (CAST(t.tf AS DOUBLE) * coll.c) / (2000.0 * cf.cf))) AS msum
       |       FROM qt q
       |       JOIN tf t ON t.word = q.word AND t.doc_id <> q.query_id
       |       JOIN cf ON cf.word = q.word, coll
       |       GROUP BY 1, 2),
       |scored AS (SELECT mt.query_id, mt.doc_id,
       |             mt.msum + qn.nq * LN(2000.0 / (dl.dl + 2000.0)) AS raw
       |           FROM mt
       |           JOIN qn ON qn.query_id = mt.query_id
       |           JOIN dl ON dl.doc_id = mt.doc_id),
       |ranked AS (SELECT query_id, doc_id, raw,
       |             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |               ORDER BY ROUND(raw, 6) DESC, doc_id) AS INT) AS rnk
       |           FROM scored)
       |SELECT query_id, doc_id, rnk, ROUND(raw, 6) AS ql
       |FROM ranked WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val (tf, dl, df) = postingsIndex(s, Tables.documents(s, dir))
    val cf = tf.groupBy(col("word")).agg(sum(col("tf")).as("cf"))
    val coll = dl.agg(sum(col("dl")).as("c"))
    val qt = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("word"))
    val qn = qt.groupBy(col("query_id")).agg(count(lit(1)).as("nq"))
    val mt = broadcast(qt).join(tf, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(cf), Seq("word"))
      .crossJoin(broadcast(coll))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(log(lit(1.0) +
        (col("tf").cast("double") * col("c")) / (lit(2000.0) * col("cf")))).as("msum"))
    val scored = mt
      .join(broadcast(qn), "query_id")
      .join(dl, "doc_id")
      .select(col("query_id"), col("doc_id"),
        (col("msum") + col("nq") * log(lit(2000.0) / (col("dl") + lit(2000.0)))).as("raw"))
    scored
      // rank on the ROUNDED score: QL scores of same-length docs with
      // equal matched multisets sit within float-sum noise of each
      // other, and a raw-score rank would break the cross-engine tie
      // arbitrarily at the top-k boundary (BM25's spread hides this;
      // QL's does not)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(round(col("raw"), 6).desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("rnk"), round(col("raw"), 6).as("ql"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** TRAINED character-trigram language ID (Cavnar & Trenkle '94 by
    * counts, Naive-Bayes-smoothed — the fastText-before-fastText
    * baseline) — the learned counterpart of q24's fixed wordlist
    * heuristic: train add-one-smoothed trigram models per language on
    * the even doc_ids, classify the odd ones, emit the confusion
    * matrix. The score uses the SPARSE decomposition
    *   Σ_tri m·ln(c+1) − M·ln(tot_lang + V)
    * (absent trigrams contribute ln 1 = 0 to the first sum, so only
    * matching (doc, tri, lang) rows ever join — the q348 algebra on
    * characters). Argmax ranks on the ROUNDED score with lang
    * tie-break (the q348 float discipline).
    *
    * The fixture's five "languages" draw from ONE shared vocabulary —
    * lang is a label, not a distribution, so NO model can beat chance
    * on the raw text. A per-language function-word layer is therefore
    * planted deterministically (the q327/q341 device): every doc gains
    * three marker tokens from its language's 10-marker inventory
    * (marker ids md5-derived from doc_id). The audit proves the
    * trained model RECOVERS the planted distributional signal from
    * held-out docs at near-perfect accuracy — exactly what
    * distinguishes a trained classifier from q24's fixed wordlist,
    * which is blind to it.
    *
    * Scale posture: training is one map-side-combined (lang, tri)
    * count; the model is vocabulary-sized and BROADCAST into the test
    * scan; scoring is one sparse join + doc-keyed agg; the grid that
    * gives every doc all 5 language scores is a 5-row broadcast. */
  val q351CharngramLangid: QueryDef = sql(
    "q351_charngram_langid",
    """WITH aug AS (
      |  SELECT doc_id, lang, text || ' zq' || lang
      |      || CAST(CAST(('0x' || substr(md5('mk:' || CAST(doc_id AS VARCHAR) || ':1'), 1, 4)) AS INT) % 10 AS VARCHAR)
      |    || ' zq' || lang
      |      || CAST(CAST(('0x' || substr(md5('mk:' || CAST(doc_id AS VARCHAR) || ':2'), 1, 4)) AS INT) % 10 AS VARCHAR)
      |    || ' zq' || lang
      |      || CAST(CAST(('0x' || substr(md5('mk:' || CAST(doc_id AS VARCHAR) || ':3'), 1, 4)) AS INT) % 10 AS VARCHAR) AS text
      |  FROM documents),
      |tri AS (
      |  SELECT doc_id, lang, doc_id % 2 AS part,
      |    substr(text, i, 3) AS t
      |  FROM aug, LATERAL (SELECT unnest(range(1, len(text) - 1)) AS i)),
      |train AS (SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS c
      |          FROM tri WHERE part = 0 GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM train GROUP BY 1),
      |vocab AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM train),
      |test AS (SELECT doc_id, lang AS true_lang, t, CAST(COUNT(*) AS BIGINT) AS m
      |         FROM tri WHERE part = 1 GROUP BY 1, 2, 3),
      |tm AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS mm FROM test GROUP BY 1),
      |hit AS (SELECT te.doc_id, tr.lang,
      |          SUM(te.m * LN(CAST(tr.c + 1 AS DOUBLE))) AS hitsum
      |        FROM test te JOIN train tr ON tr.t = te.t
      |        GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT te.doc_id, te.true_lang, tot.lang FROM test te, tot),
      |sc AS (SELECT g.doc_id, g.true_lang, g.lang,
      |         COALESCE(h.hitsum, 0.0) - tm.mm * LN(CAST(tot.tot + vocab.v AS DOUBLE)) AS score
      |       FROM grid g
      |       LEFT JOIN hit h ON h.doc_id = g.doc_id AND h.lang = g.lang
      |       JOIN tm ON tm.doc_id = g.doc_id
      |       JOIN tot ON tot.lang = g.lang, vocab),
      |best AS (SELECT doc_id, true_lang, lang AS predicted FROM (
      |           SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |             ORDER BY ROUND(score, 6) DESC, lang) AS rn
      |           FROM sc) WHERE rn = 1)
      |SELECT true_lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
      |FROM best GROUP BY 1, 2
      |ORDER BY true_lang, predicted""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    def mk(i: Int) = concat(lit(" zq"), col("lang"),
      (expr(s"CAST(conv(substring(md5(concat('mk:', CAST(doc_id AS STRING), ':$i')), 1, 4), 16, 10) AS INT)") % 10)
        .cast("string"))
    val tri = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("text", concat(col("text"), mk(1), mk(2), mk(3)))
      .select(col("doc_id"), col("lang"), (col("doc_id") % 2).as("part"),
        explode(expr(
          // CASE guard: Spark's sequence(1, 0) counts DOWN, not empty
          "CASE WHEN length(text) >= 3 THEN transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)) ELSE array() END"))
          .as("t")).cachedStageBoundary
    // the trained trigram model persists by corpus fingerprint (the
    // q127/q132 train-once device): markers derive from doc_id, so the
    // corpus fingerprint covers them
    val key = StateStore.key("trigram_v1",
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")))
    val train = StateStore.parquet(s, key, "model") {
      Seq(tri.filter(col("part") === 0)
        .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("c")))
    }.head.cachedStageBoundary
    val tot = train.groupBy(col("lang")).agg(sum(col("c")).as("tot"))
    val vocab = train.agg(countDistinct(col("t")).as("v"))
    val test = tri.filter(col("part") === 1)
      .groupBy(col("doc_id"), col("lang").as("true_lang"), col("t"))
      .agg(count(lit(1)).as("m")).cachedStageBoundary
    val tm = test.groupBy(col("doc_id")).agg(sum(col("m")).as("mm"))
    val hit = test.join(broadcast(train.withColumnRenamed("lang", "mlang")), "t")
      .groupBy(col("doc_id"), col("mlang").as("lang"))
      .agg(sum(col("m") * log((col("c") + 1).cast("double"))).as("hitsum"))
    val grid = test.select(col("doc_id"), col("true_lang")).distinct()
      .crossJoin(broadcast(tot))
    val sc = grid
      .join(hit, Seq("doc_id", "lang"), "left")
      .join(tm, "doc_id")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("true_lang"), col("lang"),
        (coalesce(col("hitsum"), lit(0.0)) -
          col("mm") * log((col("tot") + col("v")).cast("double"))).as("score"))
    sc.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(round(col("score"), 6).desc, col("lang"))))
      .filter(col("rn") === 1)
      .groupBy(col("true_lang"), col("lang").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_lang"), col("predicted"))
  }

  /** Topic segmentation (TextTiling — Hearst CL'97, reduced to the
    * repo's exact-integer algebra): split each document into 20-token
    * blocks, score ADJACENT block boundaries by vocabulary overlap
    * (exact Jaccard of the block word sets — integer cross-counts, no
    * cosine floats), and open a new topic segment where the overlap
    * falls below the document's own MEDIAN boundary score (a
    * self-calibrated threshold — absolute cutoffs break on vocabulary-
    * dense corpora). The pipeline customer is RAG chunking: q74/q169
    * cut context windows at FIXED offsets; topic-aware cuts keep
    * retrieved chunks semantically whole, and this operator emits
    * exactly the per-doc segment layout such a chunker consumes.
    *
    * Exact integers end to end (Jaccard compared by cross-
    * multiplication against the median pick — q60's order-statistic
    * device per doc). Scale: blocks explode map-side; boundary scoring
    * joins ADJACENT blocks only (self-join on block_idx+1 within the
    * doc — linear, never all-pairs); one doc-partitioned median window
    * + island sum. */
  val q353TopicSegments: QueryDef = sql(
    "q353_topic_segments",
    """WITH toks AS (
      |  SELECT doc_id, (i - 1) // 20 AS blk, w[i] AS word
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
      |       LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
      |bw AS (SELECT DISTINCT doc_id, blk, word FROM toks),
      |bsz AS (SELECT doc_id, blk, CAST(COUNT(*) AS BIGINT) AS sz FROM bw GROUP BY 1, 2),
      |inter AS (SELECT a.doc_id, a.blk AS b0, CAST(COUNT(*) AS BIGINT) AS ix
      |          FROM bw a JOIN bw b
      |            ON b.doc_id = a.doc_id AND b.blk = a.blk + 1 AND b.word = a.word
      |          GROUP BY 1, 2),
      |bound AS (SELECT s0.doc_id, s0.blk AS b0,
      |            COALESCE(i.ix, 0) AS ix,
      |            s0.sz + s1.sz - COALESCE(i.ix, 0) AS un
      |          FROM bsz s0
      |          JOIN bsz s1 ON s1.doc_id = s0.doc_id AND s1.blk = s0.blk + 1
      |          LEFT JOIN inter i ON i.doc_id = s0.doc_id AND i.b0 = s0.blk),
      |med AS (SELECT doc_id, ix AS mix, un AS mun FROM (
      |          SELECT doc_id, ix, un,
      |            ROW_NUMBER() OVER (PARTITION BY doc_id
      |              ORDER BY ix * 1000000 // un, b0) AS rk,
      |            COUNT(*) OVER (PARTITION BY doc_id) AS nb
      |          FROM bound) WHERE rk = (nb + 1) // 2),
      |cuts AS (SELECT b.doc_id, b.b0,
      |           CASE WHEN b.ix * m.mun < m.mix * b.un THEN 1 ELSE 0 END AS cut
      |         FROM bound b JOIN med m ON m.doc_id = b.doc_id),
      |seg AS (SELECT doc_id, CAST(1 + SUM(cut) AS BIGINT) AS n_segments,
      |          CAST(COUNT(*) + 1 AS BIGINT) AS n_blocks
      |        FROM cuts GROUP BY 1)
      |SELECT doc_id, n_blocks, n_segments,
      |  n_segments * 1000000 // n_blocks AS cut_rate_micro
      |FROM seg
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val bw = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "p", "word")
      .select(col("doc_id"), expr("p DIV 20").as("blk"), col("word"))
      .distinct().cachedStageBoundary
    val bsz = bw.groupBy(col("doc_id"), col("blk")).agg(count(lit(1)).as("sz")).cachedStageBoundary
    val inter = bw.select(col("doc_id"), col("blk").as("b0"), col("word"))
      .join(bw.select(col("doc_id"), (col("blk") - 1).as("b0"), col("word")),
        Seq("doc_id", "b0", "word"))
      .groupBy(col("doc_id"), col("b0")).agg(count(lit(1)).as("ix"))
    val bound = bsz.select(col("doc_id"), col("blk").as("b0"), col("sz").as("sz0"))
      .join(bsz.select(col("doc_id"), (col("blk") - 1).as("b0"), col("sz").as("sz1")),
        Seq("doc_id", "b0"))
      .join(inter, Seq("doc_id", "b0"), "left")
      .select(col("doc_id"), col("b0"), coalesce(col("ix"), lit(0L)).as("ix"),
        (col("sz0") + col("sz1") - coalesce(col("ix"), lit(0L))).as("un")).cachedStageBoundary
    val byDoc = Window.partitionBy(col("doc_id"))
    val med = bound
      .withColumn("rk", row_number().over(
        byDoc.orderBy(expr("ix * 1000000L DIV un"), col("b0"))))
      .withColumn("nb", count(lit(1)).over(byDoc))
      .filter(col("rk") === expr("(nb + 1) DIV 2"))
      .select(col("doc_id"), col("ix").as("mix"), col("un").as("mun"))
    bound.join(med, "doc_id")
      .select(col("doc_id"),
        when(col("ix") * col("mun") < col("mix") * col("un"), 1L).otherwise(0L).as("cut"))
      .groupBy(col("doc_id"))
      .agg((lit(1L) + sum(col("cut"))).as("n_segments"),
        (count(lit(1)) + 1).as("n_blocks"))
      .select(col("doc_id"), col("n_blocks"), col("n_segments"),
        expr("n_segments * 1000000L DIV n_blocks").as("cut_rate_micro"))
      .orderBy(col("doc_id"))
  }

  /** Per-source Welch drift screen: for EVERY source, the
    * unequal-variance two-sample t statistic (Welch Biometrika 1947)
    * of its mean document length against the REST of the corpus, with
    * the Welch–Satterthwaite effective df. Completes the source-QA
    * trio: q211's ANOVA assumes one shared variance (its F blurs a
    * small erratic source into the pooled term), q213's jackknife
    * prices influence on the corpus MEAN — this is the per-source
    * significance screen that stays honest when sources have genuinely
    * different spreads, which crawl sources always do (a boilerplate
    * mirror has near-zero length variance; a forum dump is heavy-
    * tailed). "Rest" moments are global-minus-source differences of
    * exact BIGINT sums — one grouped pass + one broadcast total row,
    * no second corpus scan, group-parallel at any source count. t and
    * df are single double expressions of the exact integers; both are
    * NULL when either side's variance term degenerates (n < 2 or zero
    * spread — the q356 lesson: a monotone/constant side must not emit
    * NaN into the contract hash). */
  val q371WelchScreen: QueryDef = sql(
    "q371_welch_screen",
    """WITH per AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n1,
      |    CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s1,
      |    CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS q1
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS n, CAST(SUM(s1) AS BIGINT) AS s,
      |               CAST(SUM(q1) AS BIGINT) AS q FROM per),
      |m AS (SELECT source, n1, s1, q1,
      |        tot.n - n1 AS n2, tot.s - s1 AS s2, tot.q - q1 AS q2 FROM per, tot),
      |v AS (SELECT source, n1, n2,
      |        CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS diff_chars,
      |        (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1) / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) AS vn1,
      |        (CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2) / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)) AS vn2
      |      FROM m WHERE n1 >= 2 AND n2 >= 2)
      |SELECT source, n1 AS n_docs, diff_chars,
      |  CASE WHEN vn1 + vn2 > 0 THEN diff_chars / SQRT(vn1 + vn2) END AS t_welch,
      |  CASE WHEN vn1 > 0 AND vn2 > 0 THEN
      |    (vn1 + vn2) * (vn1 + vn2) / (vn1 * vn1 / (n1 - 1) + vn2 * vn2 / (n2 - 1)) END AS df_welch
      |FROM v
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val nc = expr("CAST(n_chars AS BIGINT)")
    val per = Tables.documents(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n1"), sum(nc).as("s1"), sum(nc * nc).as("q1"))
    val tot = per.agg(sum(col("n1")).as("n"), sum(col("s1")).as("s"), sum(col("q1")).as("q"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n1"), col("s1"), col("q1"),
        (col("n") - col("n1")).as("n2"), (col("s") - col("s1")).as("s2"),
        (col("q") - col("q1")).as("q2"))
      .filter(col("n1") >= 2 && col("n2") >= 2)
      .select(col("source"), col("n1"), col("n2"),
        expr("CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2").as("diff_chars"),
        expr("(CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1) / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))").as("vn1"),
        expr("(CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2) / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))").as("vn2"))
      .select(col("source"), col("n1").as("n_docs"), col("diff_chars"),
        expr("CASE WHEN vn1 + vn2 > 0 THEN diff_chars / SQRT(vn1 + vn2) END").as("t_welch"),
        expr("""CASE WHEN vn1 > 0 AND vn2 > 0 THEN
               |  (vn1 + vn2) * (vn1 + vn2) / (vn1 * vn1 / (n1 - 1) + vn2 * vn2 / (n2 - 1)) END"""
          .stripMargin).as("df_welch"))
      .orderBy(col("source"))
  }

  /** RAKE stopword list (Rose et al. 2010 use a full function-word
    * lexicon; the fixture vocabulary contains exactly these). The list
    * is part of the operator spec — both engines split phrases on it. */
  private val RakeStops = Seq("the", "a", "an", "of", "to", "and", "in", "is", "on", "for")

  /** RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are the
    * maximal stopword-free token runs; each word scores
    * deg(w)/freq(w) — deg summing the lengths of every phrase it
    * appears in (long-phrase membership ≈ co-occurrence degree), freq
    * its candidate occurrences — and a phrase scores the sum of its
    * member word scores. The corpus-level complement of q279's
    * TextRank (which ranks single WORDS by graph centrality): RAKE
    * surfaces multi-word terminology, the unit a domain-glossary or
    * prompt-template audit actually wants. Word scores are micro-unit
    * integers (deg·10⁶ DIV freq), phrase scores exact BIGINT sums of
    * them — engine-order-independent, no float ranking ties.
    *
    * Plan shape: phrase segmentation is a per-doc cumulative stopword
    * count (doc-partitioned window, parallel), word stats one grouped
    * aggregate, phrase scores a member-word join against the word-sized
    * score relation, identical phrases merged by text. Nothing global
    * but the top-50 cut. */
  val q372RakeKeyphrases: QueryDef = sql(
    "q372_rake_keyphrases",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |toks AS (SELECT doc_id, i AS pos, w[i] AS word,
       |    CASE WHEN w[i] IN (${RakeStops.map("'" + _ + "'").mkString(", ")}) THEN 1 ELSE 0 END AS stop
       |  FROM t, UNNEST(range(1, len(w) + 1)) AS u(i)),
       |seg AS (SELECT doc_id, pos, word, stop,
       |    SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
       |  FROM toks),
       |mem AS (SELECT doc_id, pid, pos, word FROM seg WHERE stop = 0),
       |plen AS (SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS plen,
       |    string_agg(word, ' ' ORDER BY pos) AS phrase
       |  FROM mem GROUP BY 1, 2),
       |wsc AS (SELECT m.word,
       |    CAST(SUM(p.plen) * 1000000 // COUNT(*) AS BIGINT) AS ws
       |  FROM mem m JOIN plen p ON p.doc_id = m.doc_id AND p.pid = m.pid
       |  GROUP BY 1),
       |psc AS (SELECT m.doc_id, m.pid, CAST(SUM(w.ws) AS BIGINT) AS score_micro
       |  FROM mem m JOIN wsc w ON w.word = m.word GROUP BY 1, 2)
       |SELECT p.phrase, MAX(p.plen) AS n_words,
       |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |  MAX(s.score_micro) AS score_micro
       |FROM plen p JOIN psc s ON s.doc_id = p.doc_id AND s.pid = p.pid
       |GROUP BY p.phrase
       |ORDER BY score_micro DESC, phrase
       |LIMIT 50""".stripMargin) { (s, dir) =>
    val stopArr = RakeStops.map(w => s"'$w'").mkString(", ")
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), posexplode(col("w")).as(Seq("i", "word")))
      .select(col("doc_id"), (col("i") + 1).as("pos"), col("word"),
        expr(s"CASE WHEN word IN ($stopArr) THEN 1L ELSE 0L END").as("stop"))
    val seg = toks.withColumn("pid",
      sum(col("stop")).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val mem = seg.filter(col("stop") === 0)
      .select(col("doc_id"), col("pid"), col("pos"), col("word")).cachedStageBoundary
    val plen = mem.groupBy(col("doc_id"), col("pid"))
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ", expr("transform(array_sort(collect_list(struct(pos, word))), x -> x.word)")).as("phrase"))
      .cachedStageBoundary
    val wsc = mem.join(plen.select(col("doc_id"), col("pid"), col("plen")), Seq("doc_id", "pid"))
      .groupBy(col("word"))
      .agg(expr("CAST(SUM(plen) * 1000000L DIV COUNT(*) AS BIGINT)").as("ws"))
    val psc = mem.join(wsc, "word")
      .groupBy(col("doc_id"), col("pid")).agg(sum(col("ws")).as("score_micro"))
    plen.join(psc, Seq("doc_id", "pid"))
      .groupBy(col("phrase"))
      .agg(max(col("plen")).as("n_words"), count(lit(1)).as("n_occurrences"),
        max(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(50)
  }

  /** Wasserstein-1 (earth mover's) length drift per source — the third
    * leg of the drift tripod: q225's KS reads the single WORST CDF gap
    * (insensitive to how long the distributions stay apart), q338's PSI
    * reads log-ratio mass shifts (unstable on near-empty bins), W₁ =
    * Σ_buckets |CDF_source − CDF_corpus| integrates the whole gap in
    * distance units — the metric that says HOW FAR the mass moved, not
    * just that it did (the 1-D closed form of optimal transport:
    * Vallender 1974). Computed on the 50-char length histogram over
    * the GLOBAL bucket axis (missing buckets are real zeroes on both
    * sides), CDFs in exact micro-units by integer division, the sum in
    * micro-bucket-steps. Per-source work is a bounded-axis prefix
    * window (buckets ≈ max-length/50, value-range-bounded — the
    * documented bounded-axis class); the corpus passes are one grouped
    * histogram. */
  val q388WassersteinDrift: QueryDef = sql(
    "q388_wasserstein_drift",
    """WITH h AS (SELECT source, n_chars // 50 AS b, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2),
      |axis AS (SELECT DISTINCT b FROM h),
      |srcs AS (SELECT source, CAST(SUM(n) AS BIGINT) AS ns FROM h GROUP BY 1),
      |grid AS (SELECT s.source, a.b, COALESCE(h.n, 0) AS n, s.ns
      |  FROM srcs s CROSS JOIN axis a
      |  LEFT JOIN h ON h.source = s.source AND h.b = a.b),
      |cums AS (SELECT source, b, ns,
      |    CAST(SUM(n) OVER (PARTITION BY source ORDER BY b
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM grid),
      |gh AS (SELECT b, CAST(SUM(n) AS BIGINT) AS gn FROM h GROUP BY 1),
      |gt AS (SELECT CAST(SUM(gn) AS BIGINT) AS nall FROM gh),
      |gcum AS (SELECT b,
      |    CAST(SUM(gn) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gc
      |  FROM gh)
      |SELECT c.source, MAX(c.ns) AS n_docs,
      |  CAST(SUM(ABS(c.cum * 1000000 // c.ns - g.gc * 1000000 // gt.nall)) AS BIGINT) AS w1_micro
      |FROM cums c JOIN gcum g ON g.b = c.b, gt
      |GROUP BY c.source
      |ORDER BY c.source""".stripMargin) { (s, dir) =>
    val h = Tables.documents(s, dir)
      .groupBy(col("source"), expr("n_chars DIV 50").as("b"))
      .agg(count(lit(1)).as("n"))
      .stageBoundary // (source × bucket)-sized; axis + totals + grid
    val axis = h.select(col("b")).distinct()
    val srcs = h.groupBy(col("source")).agg(sum(col("n")).as("ns"))
    val grid = srcs.crossJoin(broadcast(axis))
      .join(h, Seq("source", "b"), "left")
      .select(col("source"), col("b"), coalesce(col("n"), lit(0L)).as("n"), col("ns"))
    val bySrc = Window.partitionBy(col("source")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cums = grid.withColumn("cum", sum(col("n")).over(bySrc))
    val gh = h.groupBy(col("b")).agg(sum(col("n")).as("gn"))
    val gt = gh.agg(sum(col("gn")).as("nall"))
    val gcum = gh.withColumn("gc", sum(col("gn")).over(
      Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, 0)))
    cums.join(broadcast(gcum.select(col("b"), col("gc"))), Seq("b"))
      .crossJoin(broadcast(gt))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_docs"),
        sum(expr("ABS(cum * 1000000L DIV ns - gc * 1000000L DIV nall)")).as("w1_micro"))
      .orderBy(col("source"))
  }

  /** Two-way variance decomposition of document length over source ×
    * language (the cell-means layout of Scheffé 1959 ch. 4): marginal
    * SS for each factor, the cell SS, and the interaction remainder
    * SS_cells − SS_src − SS_lang — "is length variation a SOURCE
    * effect, a LANGUAGE effect, or do specific source–language pairs
    * behave differently?" — the screen that decides whether per-source
    * thresholds (q371) need to be per-(source, language). One-way
    * q211 cannot see the interaction, which is where curation
    * surprises live (one source's Chinese slice behaving unlike its
    * English one). Unbalanced-design honesty: with unequal cell
    * counts the marginal decomposition is non-orthogonal and the
    * remainder can go negative — reported as-is, documented, exactly
    * as the cell-means algebra defines it (a regression-based Type-II
    * adjustment is a different estimand, not a fix). Every SS is an
    * exact BIGINT in char² units (per-group s²  DIV n, then integer
    * sums — a double Σ over cells would be aggregation-order-
    * dependent); the F ratios are single double expressions with
    * integer dfs. One grouped pass to cells; marginals and totals are
    * cell-relation aggregates. */
  val q389TwowayAnova: QueryDef = sql(
    "q389_twoway_anova",
    """WITH cells AS (
      |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s,
      |    CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS q
      |  FROM documents GROUP BY 1, 2),
      |ma AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s
      |       FROM cells GROUP BY 1),
      |mb AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s
      |       FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s,
      |               CAST(SUM(q) AS BIGINT) AS q,
      |               CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
      |sa AS (SELECT CAST(SUM(s * s // n) AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS a FROM ma),
      |sb AS (SELECT CAST(SUM(s * s // n) AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS b FROM mb),
      |sc AS (SELECT CAST(SUM(s * s // n) AS BIGINT) AS v FROM cells),
      |d AS (SELECT tot.n, sa.a, sb.b, tot.n_cells,
      |    sa.v - tot.s * tot.s // tot.n AS ss_source,
      |    sb.v - tot.s * tot.s // tot.n AS ss_lang,
      |    sc.v - tot.s * tot.s // tot.n AS ss_cells,
      |    tot.q - sc.v AS ss_error,
      |    tot.q - tot.s * tot.s // tot.n AS ss_total
      |  FROM tot, sa, sb, sc)
      |SELECT n, a AS n_sources, b AS n_langs, n_cells,
      |  CAST(ss_source AS BIGINT) AS ss_source, CAST(ss_lang AS BIGINT) AS ss_lang,
      |  CAST(ss_cells - ss_source - ss_lang AS BIGINT) AS ss_interaction,
      |  CAST(ss_error AS BIGINT) AS ss_error, CAST(ss_total AS BIGINT) AS ss_total,
      |  (CAST(ss_source AS DOUBLE) / (a - 1)) / (CAST(ss_error AS DOUBLE) / (n - n_cells)) AS f_source,
      |  (CAST(ss_lang AS DOUBLE) / (b - 1)) / (CAST(ss_error AS DOUBLE) / (n - n_cells)) AS f_lang,
      |  (CAST(ss_cells - ss_source - ss_lang AS DOUBLE) / ((a - 1) * (b - 1)))
      |    / (CAST(ss_error AS DOUBLE) / (n - n_cells)) AS f_interaction
      |FROM d""".stripMargin) { (s, dir) =>
    val nc = expr("CAST(n_chars AS BIGINT)")
    val cells = Tables.documents(s, dir).groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(nc).as("s"), sum(nc * nc).as("q"))
      .stageBoundary // cell-sized; marginals + totals read it
    val ma = cells.groupBy(col("source")).agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
    val mb = cells.groupBy(col("lang")).agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
    val tot = cells.agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
      sum(col("q")).as("q"), count(lit(1)).as("n_cells"))
    val sa = ma.agg(sum(expr("s * s DIV n")).as("va"), count(lit(1)).as("a"))
    val sb = mb.agg(sum(expr("s * s DIV n")).as("vb"), count(lit(1)).as("b"))
    val sc = cells.agg(sum(expr("s * s DIV n")).as("vc"))
    tot.crossJoin(broadcast(sa)).crossJoin(broadcast(sb)).crossJoin(broadcast(sc))
      .select(col("n"), col("a").as("n_sources"), col("b").as("n_langs"), col("n_cells"),
        expr("va - s * s DIV n").as("ss_source"),
        expr("vb - s * s DIV n").as("ss_lang"),
        expr("vc - va - vb + s * s DIV n").as("ss_interaction"),
        expr("q - vc").as("ss_error"),
        expr("q - s * s DIV n").as("ss_total"),
        expr("""(CAST(va - s * s DIV n AS DOUBLE) / (a - 1))
               |  / (CAST(q - vc AS DOUBLE) / (n - n_cells))""".stripMargin).as("f_source"),
        expr("""(CAST(vb - s * s DIV n AS DOUBLE) / (b - 1))
               |  / (CAST(q - vc AS DOUBLE) / (n - n_cells))""".stripMargin).as("f_lang"),
        expr("""(CAST(vc - va - vb + s * s DIV n AS DOUBLE) / ((a - 1) * (b - 1)))
               |  / (CAST(q - vc AS DOUBLE) / (n - n_cells))""".stripMargin).as("f_interaction"))
  }

  val all: Seq[QueryDef] = Seq(
    q389TwowayAnova,
    q388WassersteinDrift,
    q371WelchScreen, q372RakeKeyphrases,
    q342BottomkSample, q348DirichletQl, q351CharngramLangid, q353TopicSegments,
    q326Winnowing, q327MojibakeAudit, q333Rbo, q334HillTail, q338PsiDrift,
    q276EpochAllocation, q277CoverageSelect, q289Chao1, q316TCloseness,
    q21TextStats, q22WordFreq, q23BigramFreq, q24LangId, q25QualityScore,
    q26Fingerprint, q27TokenRegex, q62TrainSplit, q64TermFreqMap,
    q68StratifiedSample, q72Redaction, q74Chunking, q79CurationPipeline,
    q80TrigramGenerator, q99Tfidf, q100ShardPacking, q102HeavyHitters, q136Bm25, q137RrfFusion,
    q107QualitySample, q110Contingency, q116Contamination, q117Repetition,
    q172RetrievalMetrics, q175PhraseSearch, q359SlopSearch, q181SignalAgreement, q185WordSimilarity,
    q186BootstrapCi, q187Rm3Expansion, q189WeakLabels, q195KAnonymity,
    q118SourceMix, q121NegativeSampling, q123CorpusBuild, q128LmPerplexity,
    q129DsirSelect, q130SequencePacking, q134UnimaxMix, q139MixSchedule,
    q141DomainCap, q142PreferencePairs, q145CorpusDiff, q149CorpusCard,
    q151CorpusBuildPack, q155Collocations, q157DomainCosine,
    q158Boilerplate, q159QualityQuantileGate, q164TemperatureMix,
    q165ShardManifest, q167ManifestDiff, q168CdcShards, q169PassageWindows,
    q170CompactionPlan, q176TimeTravel, q197PassageRetrieval, q198RrfSweep,
    q200CorpusScorecard, q201ZipfAudit, q202HeapsGrowth, q204BudgetSelect,
    q205NdcgEval, q206CollisionEntropy, q207KneserNey, q210CodeSwitch,
    q211QualityAnova, q212BitextMining, q213SourceJackknife, q215GoodTuring,
    q216LDiversity, q217PackingSweep, q218DomainReweight, q219LengthBias,
    q223RobustScale, q224Burstiness, q225KsDrift, q237MannWhitney,
    q239QuantileNorm, q240MerkleDiff, q228VacuumPlan,
    q232ManifestPruning, q233SkylineSelect, q262PpsSample)
}
