package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}

/** SURVEY.md §2.11 + BASELINE.json:6 — text-analysis operators for the
  * LLM-data-pipeline surface: tokenization, n-grams, corpus stats,
  * TF-IDF, language-ID heuristic, quality scoring, fingerprinting.
  *
  * All pure `functions._` composition (codegen'd; no UDFs): explode for
  * the token paths, higher-order transform/filter/aggregate for the
  * per-document array paths. At 100 TB the explode paths shuffle only
  * (token, partial-count) pairs thanks to partial aggregation.
  */
object Text {

  // ---- shared BPE machinery (r12: text_bpe_train / text_bpe_encode) ----

  /** DuckDB CTE prefix: word-frequency table, fenced word strings, and
    * the 6 unrolled greedy merge rounds (`best1..best6`, `s6`).
    */
  private val BpeTrainCtes: String = {
    val S = "chr(31)"
    val sb = new StringBuilder
    sb.append(
      s"""WITH words AS (
         |  SELECT w, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
         |  WHERE w <> '' AND instr(w, $S) = 0 GROUP BY w
         |), s0 AS (
         |  SELECT array_to_string(list_transform(generate_series(1, length(w)),
         |    i -> $S || w[i] || $S), '') AS s, cnt FROM words
         |)""".stripMargin)
    for (r <- 1 to 6) {
      sb.append(
        s""", tok$r AS (
           |  SELECT list_transform(string_split(s, $S || $S), x -> trim(x, $S)) AS t, cnt
           |  FROM s${r - 1}
           |), pr$r AS (
           |  SELECT t, cnt, unnest(generate_series(1, len(t) - 1)) AS i
           |  FROM tok$r WHERE len(t) >= 2
           |), pair$r AS (
           |  SELECT t[i] AS lft, t[i + 1] AS rgt, CAST(sum(cnt) AS BIGINT) AS freq
           |  FROM pr$r GROUP BY t[i], t[i + 1]
           |), best$r AS (
           |  SELECT lft, rgt, freq FROM pair$r ORDER BY freq DESC, lft, rgt LIMIT 1
           |), s$r AS (
           |  SELECT replace(s, $S || lft || $S || $S || rgt || $S,
           |                 $S || lft || rgt || $S) AS s, cnt
           |  FROM s${r - 1} CROSS JOIN best$r
           |)""".stripMargin)
    }
    sb.toString
  }

  /** Spark side of the 6 greedy merge rounds: (round, left, right,
    * freq) — only the per-round 1-row argmax touches the driver.
    */
  private def bpeMerges(s: SparkSession, d: String): Seq[(Int, String, String, Long)] = {
    val Sep = "\u001f" // the chr(31) token fence, spelled visibly
    val words = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      // the fence char must be absent from words or the fenced encoding
      // corrupts IDENTICALLY on both engines (the oracle can't catch
      // it) — exclude it explicitly, same predicate both sides (r14)
      .filter(col("w") =!= "" && expr("instr(w, chr(31)) = 0"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    // the word table is vocabulary-scale (≪ corpus); each round's
    // lineage would otherwise recompute all prior rounds — cut it with
    // an eager localCheckpoint per round (per-invocation state, not a
    // cross-query memo, so no Bench clear hook applies)
    var cur = words.selectExpr(
      "array_join(transform(split(w, ''), c -> chr(31) || c || chr(31)), '') AS s",
      "cnt").localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to 6) {
      val toks = cur.selectExpr(
        "transform(split(s, chr(31) || chr(31)), x -> trim(BOTH chr(31) FROM x)) AS t",
        "cnt")
      val best = toks.filter(size(col("t")) >= 2)
        .select(col("t"), col("cnt"),
          explode(expr("sequence(1, size(t) - 1)")).as("i"))
        .select(expr("element_at(t, i)").as("lft"),
          expr("element_at(t, i + 1)").as("rgt"), col("cnt"))
        .groupBy("lft", "rgt").agg(sum("cnt").as("freq"))
        .orderBy(col("freq").desc, col("lft"), col("rgt"))
        .limit(1).head()
      val (l, rt, f) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((r, l, rt, f))
      cur = cur.select(
        replace(col("s"), lit(s"$Sep$l$Sep$Sep$rt$Sep"), lit(s"$Sep$l$rt$Sep")).as("s"),
        col("cnt")).localCheckpoint(true)
    }
    merges.toSeq
  }

  def defs: Seq[(String, Q)] = Seq(
    "text_tokenize" -> Q(
      """SELECT word, count(*) AS n FROM
        |  (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word")
    },

    "text_ngram" -> Q(
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |                               i -> t[i] || ' ' || t[i + 1])) AS bigram
        |  FROM (SELECT string_split(lower(text), ' ') AS t FROM documents)
        |  WHERE len(t) >= 2)
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
      // bigrams via an index-mapped transform (no self-join); Spark
      // sequence(1, 0) would count DOWN, so short docs are filtered on
      // both engines
      Tables.documents(s, d)
        .withColumn("t", split(lower(col("text")), " "))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    },

    "text_stats" -> Q(
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (CAST(sum(n_chars) AS DOUBLE) / count(*)) AS avg_chars,
        |  CAST(max(length(text)) AS INTEGER) AS max_len
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          max(length(col("text"))).as("max_len"))
        .orderBy("lang", "source")
    },

    "text_tfidf" -> Q(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |  round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |FROM tf JOIN df USING (word) CROSS JOIN n
        |ORDER BY doc_id, word""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      val tf = tok.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val df = tok.distinct().groupBy("word").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(df), "word")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"), col("tf"), col("df"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
        .orderBy("doc_id", "word")
    },

    "text_langid" -> Q(
      """SELECT doc_id,
        |  len(list_filter(t, x -> x IN ('the','a','of','and','to','is'))) AS s_en,
        |  len(list_filter(t, x -> x IN ('el','la','de','y','en','que'))) AS s_es,
        |  len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |  CASE WHEN len(list_filter(t, x -> x IN ('the','a','of','and','to','is'))) >= len(list_filter(t, x -> x IN ('el','la','de','y','en','que')))
        |        AND len(list_filter(t, x -> x IN ('the','a','of','and','to','is'))) >= len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) THEN 'en'
        |       WHEN len(list_filter(t, x -> x IN ('el','la','de','y','en','que'))) >= len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) THEN 'es'
        |       ELSE 'de' END AS lang_pred
        |FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // stopword-hit n-gram heuristic language ID: count profile hits per
      // language, argmax with deterministic tie-break (en > es > de)
      def hits(words: String) = expr(s"size(filter(t, x -> x IN ($words)))")
      val en = hits("'the','a','of','and','to','is'")
      val es = hits("'el','la','de','y','en','que'")
      val de = hits("'der','die','das','und','ist'")
      Tables.documents(s, d)
        .withColumn("t", split(lower(col("text")), " "))
        .select(col("doc_id"), en.as("s_en"), es.as("s_es"), de.as("s_de"),
          when(en >= es && en >= de, "en").when(es >= de, "es").otherwise("de").as("lang_pred"))
        .orderBy("doc_id")
    },

    "text_quality" -> Q(
      """SELECT doc_id,
        |  len(t) AS n_tokens,
        |  len(list_distinct(t)) AS n_uniq,
        |  (CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) AS uniq_ratio,
        |  (CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t)) AS avg_token_len,
        |  CAST(ceil(length(text) / 4.0) AS INTEGER) AS est_bpe_tokens,
        |  (CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','is'))) AS DOUBLE) / len(t)) AS stopword_ratio,
        |  CASE WHEN len(t) BETWEEN 15 AND 80 AND len(list_distinct(t)) * 2 > len(t)
        |       THEN 'good' ELSE 'low' END AS quality
        |FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("t", split(lower(col("text")), " "))
        .select(col("doc_id"),
          size(col("t")).as("n_tokens"),
          size(array_distinct(col("t"))).as("n_uniq"),
          (size(array_distinct(col("t"))).cast("double") / size(col("t"))).as("uniq_ratio"),
          ((length(col("text")) - (size(col("t")) - 1)).cast("double") / size(col("t"))).as("avg_token_len"),
          ceil(length(col("text")) / 4.0).cast("int").as("est_bpe_tokens"),
          (expr("size(filter(t, x -> x IN ('the','a','of','and','to','is')))").cast("double")
            / size(col("t"))).as("stopword_ratio"),
          when(size(col("t")).between(15, 80)
            && size(array_distinct(col("t"))) * 2 > size(col("t")), "good")
            .otherwise("low").as("quality"))
        .orderBy("doc_id")
    },

    // MODEL-BASED quality scoring (the fasttext-shape linear filter
    // every production corpus pipeline runs after the heuristics —
    // CCNet/GPT-3-style): hashed bigram features (poly_hash → D=4096
    // buckets), a deterministic weight per bucket (multiplicative
    // Knuth hash of the bucket id — a stand-in weight table with the
    // same execution shape as a trained one: at scale the weights
    // would broadcast as a 4096-float map), mean feature weight per
    // doc, logistic link. Plan: one explode + ONE hash agg with
    // map-side partials; everything stays exact INTEGER until the two
    // final float ops (one division, one exp), so both engines agree
    // bit-for-bit. Score is sigmoid(10·(mean/1000003 − 0.5)).
    "text_quality_model" -> Q(
      s"""WITH feats AS (
         |  SELECT doc_id,
         |    ((${graft.llm.Dedup.polyHashSql("bg")} % 4096) * 2654435761) % 1000003 AS wnum
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i + 1])) AS bg
         |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
         |    WHERE len(t) >= 2))
         |SELECT doc_id, count(*) AS n_feats,
         |  round(1.0 / (1.0 + exp(-10.0 * (CAST(sum(wnum) AS DOUBLE) / count(*) / 1000003.0 - 0.5))), 6) AS score
         |FROM feats GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("t", split(lower(col("text")), " "))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")).as("bg"))
        .withColumn("wnum", expr("((poly_hash(bg) % 4096) * 2654435761L) % 1000003"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"),
          round(lit(1.0) / (lit(1.0) + exp(lit(-10.0)
            * (sum(col("wnum")).cast("double") / count(lit(1)) / lit(1000003.0) - lit(0.5)))), 6)
            .as("score"))
        .orderBy("doc_id")
    },

    // Gopher-style repetition filters (Rae et al. 2021, §A1.1): flag
    // templated/boilerplate docs by (a) the character fraction covered
    // by the single most frequent word 2-gram and (b) the fraction of
    // 5-gram OCCURRENCES that are repeats of an earlier 5-gram in the
    // same doc. Shape: one explode per gram size -> per-(doc,gram) hash
    // agg -> per-doc agg; the top-bigram pick is a window bounded by
    // the doc's own distinct-bigram count (never corpus-wide). All
    // outputs are integer ratios via one IEEE division — exact on both
    // engines without rounding.
    "text_repetition" -> Q(
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars, string_split(lower(text), ' ') AS w
        |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
        |big AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i + 1])) AS gram FROM t)
        |  GROUP BY doc_id, gram),
        |top AS (
        |  SELECT doc_id, gram AS top_bigram, cnt AS top_n FROM (
        |    SELECT doc_id, gram, cnt,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
        |    FROM big) WHERE rn = 1),
        |five AS (
        |  SELECT doc_id, count(*) AS n5, count(DISTINCT gram) AS n5_uniq FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 4),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS gram
        |    FROM t)
        |  GROUP BY doc_id)
        |SELECT t.doc_id, top.top_bigram, top.top_n,
        |  (CAST(top.top_n * length(top.top_bigram) AS DOUBLE) / t.n_chars) AS top2_char_frac,
        |  five.n5, five.n5_uniq,
        |  (CAST(five.n5 - five.n5_uniq AS DOUBLE) / five.n5) AS dup5_frac
        |FROM t JOIN top USING (doc_id) JOIN five USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, d)
        .withColumn("w", split(lower(col("text")), " "))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), length(col("text")).as("n_chars"), col("w"))
      val big = t.select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      val top = big
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("gram"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("gram").as("top_bigram"), col("cnt").as("top_n"))
      val five = t.select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 4), i -> concat_ws(' ', element_at(w, i), element_at(w, i+1), element_at(w, i+2), element_at(w, i+3), element_at(w, i+4)))"))
          .as("gram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n5"), countDistinct(col("gram")).as("n5_uniq"))
      t.select(col("doc_id"), col("n_chars"))
        .join(top, "doc_id").join(five, "doc_id")
        .select(col("doc_id"), col("top_bigram"), col("top_n"),
          ((col("top_n") * length(col("top_bigram"))).cast("double") / col("n_chars"))
            .as("top2_char_frac"),
          col("n5"), col("n5_uniq"),
          ((col("n5") - col("n5_uniq")).cast("double") / col("n5")).as("dup5_frac"))
        .orderBy("doc_id")
    },

    // per-doc unigram Shannon entropy (nats) — the lexical-diversity
    // quality signal next to text_quality's ratio heuristics: low
    // entropy = repetitive/templated, high = diverse. Each term
    // p·ln(p) rounds to 6 decimals and sums as DECIMAL(18,6) (the
    // text_perplexity rule), so the per-doc total is exact and
    // order-free on both engines. The per-doc token total is a window
    // over the doc's own distinct words — bounded, never corpus-wide.
    "text_entropy" -> Q(
      """WITH counts AS (
        |  SELECT doc_id, w, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY doc_id, w),
        |terms AS (
        |  SELECT doc_id, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tok
        |  FROM counts)
        |SELECT doc_id, CAST(max(n_tok) AS BIGINT) AS n_tokens, count(*) AS n_uniq,
        |  -(CAST(sum(CAST(round((CAST(cnt AS DOUBLE) / n_tok)
        |      * ln(CAST(cnt AS DOUBLE) / n_tok), 6) AS DECIMAL(18,6))) AS DOUBLE)) AS entropy
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      counts
        .withColumn("n_tok", sum(col("cnt")).over(Window.partitionBy("doc_id")))
        .select(col("doc_id"), col("n_tok"),
          round((col("cnt").cast("double") / col("n_tok"))
              * log(col("cnt").cast("double") / col("n_tok")), 6)
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("term"))
        .groupBy("doc_id")
        .agg(max(col("n_tok")).as("n_tokens"), count(lit(1)).as("n_uniq"),
          (-sum(col("term")).cast("double")).as("entropy"))
        .orderBy("doc_id")
    },

    // redaction pass (the PII-masking shape): global regex replace +
    // per-doc match count. Spark regexp_replace is global by default;
    // DuckDB needs the 'g' flag. \b is ASCII word-boundary in both
    // Java regex and RE2.
    "text_redact" -> Q(
      """SELECT doc_id,
        |  regexp_replace(text, '\b(customer|supplier)\b', '[REDACTED]', 'g') AS redacted,
        |  len(regexp_extract_all(text, '\b(customer|supplier)\b')) AS n_hits
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_replace(col("text"), "\\b(customer|supplier)\\b", "[REDACTED]").as("redacted"),
          size(expr("regexp_extract_all(text, '\\\\b(customer|supplier)\\\\b', 0)")).as("n_hits"))
        .orderBy("doc_id")
    },

    // end-to-end corpus-cleaning composition: token-count quality gate →
    // exact-dedup keeping the smallest doc_id per content fingerprint.
    // The whole pipeline is two shuffles at any scale: one groupBy(fp)
    // for survivors, one broadcast-back join (fp cardinality ≈ corpus, so
    // at 100 TB the join is a shuffle join on fp — still linear).
    "pipeline_corpus_clean" -> Q(
      """WITH scored AS (
        |  SELECT doc_id, lang, source,
        |    len(string_split(lower(text), ' ')) AS n_tokens,
        |    md5(text) AS fp
        |  FROM documents),
        |kept AS (SELECT * FROM scored WHERE n_tokens BETWEEN 15 AND 80),
        |keep AS (SELECT fp, min(doc_id) AS keep_id FROM kept GROUP BY fp)
        |SELECT k.doc_id, k.lang, k.source, k.n_tokens
        |FROM kept k JOIN keep ON k.fp = keep.fp AND k.doc_id = keep.keep_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          size(split(lower(col("text")), " ")).as("n_tokens"),
          md5(col("text").cast("binary")).as("fp"))
      val kept = scored.filter(col("n_tokens").between(15, 80))
      val keep = kept.groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
      kept.join(keep,
          kept("fp") === keep("fp") && kept("doc_id") === keep("keep_id"))
        .select(kept("doc_id"), col("lang"), col("source"), col("n_tokens"))
        .orderBy("doc_id")
    },

    // edit-distance fuzzy matching (the levenshtein dedup family) over
    // part names: near-match = distance ≤ 2 within (p_brand, p_size),
    // same length class, AND sharing ≥1 exact word. The shared-word
    // requirement is part of the operator's DEFINITION (spelled in the
    // oracle too), which is what makes the Spark plan a pure bucket
    // equi-join — explode words, join on (brand, size, word) — with no
    // blocked all-pairs step and no reliance on data shape. (A
    // guaranteed-recall candidate scheme for unrestricted edit distance
    // is PassJoin-style segment blocking; for name-matching, shared-word
    // blocking is the standard candidate key.) Both engines implement
    // classic levenshtein — exact integer match.
    "text_fuzzy_match" -> Q(
      """SELECT a.p_partkey AS id1, b.p_partkey AS id2,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 1
        |  AND len(list_intersect(string_split(a.p_name, ' '),
        |                         string_split(b.p_name, ' '))) >= 1
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      fuzzyMatch(Tables.part(s, d), graft.llm.Dedup.bucketCap(s))
    },

    // PassJoin-style segment blocking with a PROVABLE recall guarantee
    // (round 5): normalize each doc to a fixed 24-char key, split into
    // 3 disjoint 8-char segments — any pair at Hamming distance ≤ 2
    // differs in at most 2 segments, so BY PIGEONHOLE at least one
    // segment matches exactly. Candidates = segment equi-join (never
    // all-pairs; the shared-word fuzzy match above is heuristic recall,
    // this one is exact recall by construction), verify = exact Hamming
    // on the candidates only. LlmSpec checks the operator equals the
    // brute-force pair set.
    "text_hamming_pairs" -> Q(
      """WITH keys AS (
        |  SELECT doc_id, rpad(substr(replace(text, ' ', ''), 1, 24), 24, '#') AS k
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, k, i AS seg_ix, substr(k, (i - 1) * 8 + 1, 8) AS seg
        |  FROM keys CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS i) ii),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2, a.k AS k1, b.k AS k2
        |  FROM segs a JOIN segs b
        |    ON a.seg_ix = b.seg_ix AND a.seg = b.seg AND a.doc_id < b.doc_id)
        |SELECT doc_id1, doc_id2,
        |  CAST(len(list_filter(generate_series(1, 24), i -> substr(k1, i, 1) <> substr(k2, i, 1))) AS INTEGER) AS hd
        |FROM cand
        |WHERE len(list_filter(generate_series(1, 24), i -> substr(k1, i, 1) <> substr(k2, i, 1))) <= 2
        |ORDER BY doc_id1, doc_id2""".stripMargin) { (s, d) =>
      hammingPairs(Tables.documents(s, d), graft.llm.Dedup.bucketCap(s))
    },

    // deterministic train/val/test hash-split (80/10/10): the bucket is
    // a pure function of doc_id via the engine-portable poly_hash, so
    // the assignment is reproducible on any engine, any partitioning,
    // any corpus size — the standard way LLM pipelines keep splits
    // stable across reprocessing runs. Per-row assignment is
    // embarrassingly parallel; the output here is the split summary.
    "split_hash" -> Q(
      s"""SELECT split, count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM (SELECT doc_id,
         |        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |      FROM (SELECT doc_id, ${graft.llm.Dedup.polyHashSql("ds")} % 100 AS b
         |            FROM (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds FROM documents)))
         |GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("b", expr("poly_hash(cast(doc_id AS string)) % 100"))
        .withColumn("split",
          when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("split")
    },

    // BPE-style regex token counting (round 7) — the GPT-2 tokenizer's
    // pre-tokenization shape reduced to an engine-portable character
    // class split: letter runs, digit runs, and single
    // non-letter-digit-space marks each count as one pre-token (real
    // BPE then only SPLITS pre-tokens, so this is the standard cheap
    // upper-anchor next to the chars/4 estimate in text_stats). Pure
    // regexp_extract_all on both engines; map-side only.
    "text_token_regex" -> Q(
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_pretokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+')) AS n_word_runs,
        |  len(regexp_extract_all(lower(text), '[0-9]+')) AS n_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .as("n_pretokens"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("n_word_runs"),
          size(expr("regexp_extract_all(lower(text), '[0-9]+', 0)")).as("n_digit_runs"))
        .orderBy("doc_id")
    },

    // stratified split (round 7): EXACT per-stratum proportions — docs
    // are ranked inside each (lang, source) stratum by the
    // engine-portable poly_hash (deterministic pseudo-random order,
    // stable across reprocessing runs like split_hash) and the first
    // ⌈0.8·n⌉ / next ⌈0.9·n⌉ ranks take train/val. Unlike the plain
    // hash-bucket split, every stratum lands within 1 doc of its target
    // ratio — the standard remedy when a small language would otherwise
    // draw a lopsided split by binomial luck. Thresholds use integral
    // ceil ((8n+9) DIV 10) so no float boundary exists on either
    // engine. One window per stratum (each stratum hash-partitions
    // independently) + one hash agg — scale is bounded by the largest
    // stratum, not the corpus.
    "split_stratified" -> Q(
      s"""SELECT lang, source, split, count(*) AS n_docs,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM (
         |  SELECT lang, source,  doc_id,
         |    CASE WHEN rk <= (ns * 8 + 9) // 10 THEN 'train'
         |         WHEN rk <= (ns * 9 + 9) // 10 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (
         |    SELECT doc_id, lang, source,
         |      row_number() OVER (PARTITION BY lang, source
         |        ORDER BY ph, doc_id) AS rk,
         |      count(*) OVER (PARTITION BY lang, source) AS ns
         |    FROM (SELECT doc_id, lang, source, ${graft.llm.Dedup.polyHashSql("ds")} AS ph
         |          FROM (SELECT *, CAST(doc_id AS VARCHAR) AS ds FROM documents))))
         |GROUP BY lang, source, split
         |ORDER BY lang, source, split""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byStratum = Window.partitionBy("lang", "source")
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(byStratum
          .orderBy(expr("poly_hash(cast(doc_id AS string))"), col("doc_id"))))
        .withColumn("ns", count(lit(1)).over(byStratum))
        .withColumn("split",
          when(col("rk") <= expr("(ns * 8 + 9) div 10"), "train")
            .when(col("rk") <= expr("(ns * 9 + 9) div 10"), "val")
            .otherwise("test"))
        .groupBy("lang", "source", "split")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang", "source", "split")
    },

    // reproducible subsampling (round 7): "give me a stable 5% sample"
    // is a daily training-data need, and rand()-based sampling is
    // neither reproducible across runs nor oracle-checkable. The
    // standard remedy: rank by a deterministic hash of the key and keep
    // the smallest N — uniform-ish, stable under reprocessing AND under
    // corpus growth (a doc's hash never changes, so samples only gain/
    // lose members at the threshold). Rides the native bounded-heap
    // TopK (plans/TopK.scala): partial heaps per partition, ≤N rows
    // shuffle, no global sort of the corpus.
    "sample_hash" -> Q(
      s"""SELECT doc_id, lang, source, ph FROM (
         |  SELECT doc_id, lang, source, ${graft.llm.Dedup.polyHashSql("ds")} AS ph
         |  FROM (SELECT *, CAST(doc_id AS VARCHAR) AS ds FROM documents))
         |ORDER BY ph, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      val hashed = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          expr("poly_hash(cast(doc_id AS string))").as("ph"))
      graft.plans.TopK.topKPerGroup(hashed,
        Nil, Seq(("ph", true), ("doc_id", true)), 25)
        .select("doc_id", "lang", "source", "ph")
        .orderBy("ph", "doc_id")
    },

    // corpus Zipf fit: least-squares slope of ln(freq) vs ln(rank) —
    // the rank-frequency diagnostic (natural text ≈ −1; templated
    // corpora flatten). Determinism: each ln rounds to 6 decimals and
    // enters DECIMAL(18,6); the four moment sums are EXACT decimal
    // sums (order-free), cast to double once, and the closed-form
    // slope/intercept is then a fixed chain of IEEE mult/sub/div —
    // bit-identical on both engines with no regr_slope() float-
    // accumulation hazard. The rank window runs over the VOCABULARY
    // (counts table), orders of magnitude below the corpus.
    "text_zipf" -> Q(
      """WITH counts AS (
        |  SELECT word, count(*) AS f FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |ranked AS (
        |  SELECT f, row_number() OVER (ORDER BY f DESC, word) AS r FROM counts),
        |t AS (
        |  SELECT CAST(round(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |         CAST(round(ln(CAST(f AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |  FROM ranked),
        |m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(x * x) AS DOUBLE) AS sxx
        |  FROM t)
        |SELECT CAST(n AS BIGINT) AS n_words,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
        |FROM m""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dec = org.apache.spark.sql.types.DecimalType(18, 6)
      val counts = Tables.documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("f"))
      val t = counts
        .withColumn("r", row_number().over(Window.orderBy(col("f").desc, col("word"))))
        .select(round(log(col("r").cast("double")), 6).cast(dec).as("x"),
          round(log(col("f").cast("double")), 6).cast(dec).as("y"))
      t.agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"), sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"))
        .select(col("n").cast("long").as("n_words"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
          ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"))
            .as("intercept"))
    },

    // temperature-weighted mixture sampling (the multilingual corpus
    // recipe: sample language l with probability ∝ n_l^α, α<1, so
    // low-resource languages are upsampled relative to their corpus
    // share — XLM-R §3.1 / mC4). α=0.5 ON PURPOSE: sqrt is correctly
    // rounded under IEEE-754 (unlike pow/ln), the per-lang sqrt rounds
    // to 6 decimals and sums as DECIMAL (order-free), and every later
    // step is a single mult/div — so the target-count arithmetic is
    // BIT-IDENTICAL on both engines and the floor() boundary carries
    // no cross-engine hazard at all. Budget B=300 of 500 docs. Doc
    // picks are poly_hash ranks within each lang (stable under
    // reprocessing and corpus growth, like sample_hash); the per-lang
    // window is bounded by the largest language, not the corpus.
    // BPE MERGE TRAINING (r12 — the tokenizer-training op itself, not
    // just the BPE-ish counting regex): 6 greedy merge rounds over the
    // word-frequency table (GPT-2-style pre-tokenization: BPE runs
    // within words, weighted by word count). Words are carried as
    // boundary-wrapped strings (chr(31) fences every token), so one
    // engine-portable `replace` applies a merge with the standard
    // left-to-right non-overlapping greed on BOTH engines; pair counts
    // are exact integers, ties break lexicographically, and the DuckDB
    // twin unrolls the identical 6 rounds as CTEs (the IVF-kmeans
    // replay pattern). Driver holds only the 1-row argmax per round —
    // the corpus-scale word table never leaves the cluster.
    "text_bpe_train" -> Q(
      BpeTrainCtes + "\n" + (1 to 6).map(r =>
        s"SELECT $r AS round, lft, rgt, freq FROM best$r").mkString("\nUNION ALL\n")
        + "\nORDER BY round") { (s, d) =>
      import s.implicits._
      bpeMerges(s, d).toDF("round", "lft", "rgt", "freq").orderBy("round")
    },

    // BPE ENCODING under the trained merges (r12 — the companion op:
    // token counting with a REAL trained tokenizer, not a regex
    // stand-in): each document's words are fenced and the 6 merges
    // apply in rank order via the same engine-portable replace; output
    // per doc = word count, BPE token count and the chars-per-token
    // compression the tokenizer achieves. The merges recompute from
    // the corpus on both engines, so the gate covers train + encode.
    "text_bpe_encode" -> Q({
      val S = "chr(31)"
      BpeTrainCtes +
        s""", docw AS (
           |  SELECT doc_id, w FROM (
           |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
           |  WHERE w <> '' AND instr(w, $S) = 0
           |), d0 AS (
           |  SELECT doc_id, length(w) AS n_chars,
           |    array_to_string(list_transform(generate_series(1, length(w)),
           |      i -> $S || w[i] || $S), '') AS s
           |  FROM docw
           |)""".stripMargin +
        (1 to 6).map(r =>
          s""", d$r AS (
             |  SELECT doc_id, n_chars,
             |    replace(s, $S || lft || $S || $S || rgt || $S,
             |            $S || lft || rgt || $S) AS s
             |  FROM d${r - 1} CROSS JOIN best$r
             |)""".stripMargin).mkString +
        s"""
           |SELECT doc_id, count(*) AS n_words,
           |  CAST(sum(len(string_split(s, $S || $S))) AS BIGINT) AS n_tokens,
           |  round(CAST(sum(n_chars) AS DOUBLE)
           |    / sum(len(string_split(s, $S || $S))), 6) AS chars_per_token
           |FROM d6 GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val Sep = "\u001f"
      val merges = bpeMerges(s, d)
      var cur = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "" && expr("instr(w, chr(31)) = 0"))
        .selectExpr("doc_id", "length(w) AS n_chars",
          "array_join(transform(split(w, ''), c -> chr(31) || c || chr(31)), '') AS s")
      merges.foreach { case (_, l, r, _) =>
        cur = cur.withColumn("s",
          replace(col("s"), lit(s"$Sep$l$Sep$Sep$r$Sep"), lit(s"$Sep$l$r$Sep")))
      }
      cur
        .withColumn("n_toks", expr("size(split(s, chr(31) || chr(31)))"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_toks")).as("n_tokens"),
          round(sum(col("n_chars")).cast("double") / sum(col("n_toks")), 6)
            .as("chars_per_token"))
        .orderBy("doc_id")
    },

    // DSIR-style importance RESAMPLING (r12 — Xie et al. 2023, the
    // published data-selection method: score raw-pool documents by a
    // hashed-n-gram importance log-ratio between a TARGET distribution
    // and the pool, keep the top mass): hashed-bigram bucket counts
    // (poly_hash % 256, engine-portable), +1-smoothed per-bucket
    // log-likelihood ratios rounded to DECIMAL(18,6) (the
    // text_perplexity discipline — decimal sums are order-independent,
    // so the per-doc float accumulation hash-matches), one broadcast
    // of the 256-row ratio table, ONE doc-keyed hash agg, and a
    // deterministic top-k selection (weight desc, doc_id) instead of
    // Gumbel noise — sampling jitter has no DuckDB twin. Scales: the
    // pool never shuffles except the final doc agg; the bucket table
    // is O(256) at any corpus size.
    "sample_dsir" -> Q({
      val llrExpr = "CAST(round(ln((CAST(tc AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 256.0)) " +
        "- ln((CAST(rc AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 256.0)), 6) AS DECIMAL(18,6))"
      s"""WITH toks AS (
         |  SELECT doc_id, source, string_split(lower(text), ' ') AS t FROM documents
         |), bgs AS (
         |  SELECT doc_id, source,
         |    unnest(list_transform(generate_series(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i+1])) AS bg
         |  FROM toks WHERE len(t) >= 2
         |), hb AS (
         |  SELECT doc_id, source, ${Dedup.polyHashSql("bg")} % 256 AS b FROM bgs
         |), tcounts AS (
         |  SELECT b, count(*) AS tc FROM hb WHERE source = 'src0' GROUP BY b
         |), rcounts AS (
         |  SELECT b, count(*) AS rc FROM hb WHERE source <> 'src0' GROUP BY b
         |), tots AS (
         |  SELECT (SELECT count(*) FROM hb WHERE source = 'src0') AS tt,
         |         (SELECT count(*) FROM hb WHERE source <> 'src0') AS tr
         |), llr AS (
         |  SELECT g.range AS b, $llrExpr AS llr
         |  FROM range(0, 256) g
         |  LEFT JOIN tcounts ON tcounts.b = g.range
         |  LEFT JOIN rcounts ON rcounts.b = g.range
         |  CROSS JOIN tots
         |), scored AS (
         |  SELECT hb.doc_id, count(*) AS n_grams,
         |    CAST(sum(llr.llr) AS DOUBLE) AS weight
         |  FROM hb JOIN llr USING (b) WHERE hb.source <> 'src0'
         |  GROUP BY hb.doc_id
         |)
         |SELECT doc_id, n_grams, weight,
         |  CASE WHEN row_number() OVER (ORDER BY weight DESC, doc_id) <= 200
         |       THEN 1 ELSE 0 END AS selected
         |FROM scored ORDER BY doc_id""".stripMargin
        // DuckDB's tc/rc arrive NULL for empty buckets; the Spark side
        // coalesces — spell the NULL-tolerant form on both engines
        .replace("CAST(tc AS DOUBLE)", "CAST(coalesce(tc, 0) AS DOUBLE)")
        .replace("CAST(rc AS DOUBLE)", "CAST(coalesce(rc, 0) AS DOUBLE)")
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val grams = docs
        .withColumn("t", split(lower(col("text")), " "))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")).as("bg"))
        .select(col("doc_id"), col("source"), expr("poly_hash(bg) % 256").as("b"))
      val tc = grams.filter(col("source") === "src0")
        .groupBy("b").agg(count(lit(1)).as("tc"))
      val rc = grams.filter(col("source") =!= "src0")
        .groupBy("b").agg(count(lit(1)).as("rc"))
      val tots = grams.agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("tt"),
        sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("tr"))
      val llr = s.range(0, 256).toDF("b")
        .join(tc, Seq("b"), "left").join(rc, Seq("b"), "left")
        .crossJoin(broadcast(tots))
        .selectExpr("b",
          "CAST(round(ln((CAST(coalesce(tc, 0) AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 256.0)) " +
            "- ln((CAST(coalesce(rc, 0) AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 256.0)), 6) AS DECIMAL(18,6)) AS llr")
      import org.apache.spark.sql.expressions.Window
      grams.filter(col("source") =!= "src0")
        .join(broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), sum(col("llr")).cast("double").as("weight"))
        .withColumn("selected",
          when(row_number().over(
            Window.orderBy(col("weight").desc, col("doc_id"))) <= 200, 1).otherwise(0))
        .select(col("doc_id"), col("n_grams"), col("weight"), col("selected"))
        .orderBy("doc_id")
    },

    "sample_mixture" -> Q(
      s"""WITH sz AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |w AS (SELECT lang, n,
         |        CAST(round(sqrt(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS s FROM sz),
         |tot AS (SELECT sum(s) AS ts FROM w),
         |k AS (SELECT lang, n,
         |        CAST(floor(round(300 * (CAST(s AS DOUBLE) / CAST(ts AS DOUBLE)), 6)) AS BIGINT) AS k_target
         |      FROM w CROSS JOIN tot),
         |ranked AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY ph, doc_id) AS rk
         |  FROM (SELECT doc_id, lang, ${graft.llm.Dedup.polyHashSql("ds")} AS ph
         |        FROM (SELECT *, CAST(doc_id AS VARCHAR) AS ds FROM documents)))
         |SELECT k.lang, k.n AS n_docs, k.k_target,
         |  count(r.doc_id) AS n_sampled, min(r.doc_id) AS min_id, max(r.doc_id) AS max_id
         |FROM k JOIN ranked r ON k.lang = r.lang AND r.rk <= k.k_target
         |GROUP BY k.lang, k.n, k.k_target
         |ORDER BY k.lang""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sz = Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n"))
      val w = sz.withColumn("s",
        round(sqrt(col("n").cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      val tot = w.agg(sum(col("s")).as("ts"))
      val k = w.crossJoin(broadcast(tot))
        .select(col("lang"), col("n"),
          floor(round(lit(300) * (col("s").cast("double") / col("ts").cast("double")), 6))
            .cast("long").as("k_target"))
      val ranked = Tables.documents(s, d)
        .withColumn("rk", row_number().over(Window.partitionBy("lang")
          .orderBy(expr("poly_hash(cast(doc_id AS string))"), col("doc_id"))))
        .select(col("doc_id"), col("lang"), col("rk"))
      ranked.join(broadcast(k), "lang")
        .filter(col("rk") <= col("k_target"))
        .groupBy("lang", "n", "k_target")
        .agg(count(lit(1)).as("n_sampled"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .select(col("lang"), col("n").as("n_docs"), col("k_target"),
          col("n_sampled"), col("min_id"), col("max_id"))
        .orderBy("lang")
    },

    // benchmark decontamination (round 7): the training-data hygiene
    // pass every published pipeline runs — flag corpus documents whose
    // 5-grams appear in a held-out benchmark set (here: source='src0'
    // stands in for the benchmark corpus). Candidates come from an
    // equi-join on the gram key against the DISTINCT benchmark gram set
    // (broadcast: benchmark suites are small by construction), never a
    // doc×doc comparison; per-doc contamination fraction rounds to 6
    // (the transcendental rule).
    "text_contamination" -> Q(
      """WITH cg AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 4),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS gram
        |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
        |          FROM documents WHERE source <> 'src0')
        |    WHERE len(t) >= 5)),
        |bg AS (
        |  SELECT DISTINCT gram FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(t) - 4),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS gram
        |    FROM (SELECT string_split(lower(text), ' ') AS t
        |          FROM documents WHERE source = 'src0')
        |    WHERE len(t) >= 5))
        |SELECT cg.doc_id, count(*) AS n_grams,
        |  count(bg.gram) AS n_contam,
        |  round(CAST(count(bg.gram) AS DOUBLE) / count(*), 6) AS contam_frac
        |FROM cg LEFT JOIN bg ON cg.gram = bg.gram
        |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin) { (s, d) =>
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("t", split(lower(col("text")), " "))
        .filter(size(col("t")) >= 5)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(t) - 4), i -> concat_ws(' ',
            |  element_at(t, i), element_at(t, i + 1), element_at(t, i + 2),
            |  element_at(t, i + 3), element_at(t, i + 4)))""".stripMargin)).as("gram"))
        .distinct()
      val docs = Tables.documents(s, d)
      val corpus = grams(docs.filter(col("source") =!= "src0"))
      val bench = grams(docs.filter(col("source") === "src0"))
        .select("gram").distinct().withColumn("hit", lit(1))
      corpus.join(broadcast(bench), Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(col("hit")).as("n_contam"),
          round(count(col("hit")).cast("double") / count(lit(1)), 6).as("contam_frac"))
        .orderBy("doc_id")
    },

    "text_fingerprint" -> Q(
      """SELECT doc_id,
        |  md5(text) AS content_fp,
        |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS token_fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // content fingerprint (exact-dup key) + order-insensitive token-set
      // fingerprint; md5 is bit-identical across engines
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("content_fp"),
          md5(concat_ws(" ", sort_array(array_distinct(split(lower(col("text")), " "))))
            .cast("binary")).as("token_fp"))
        .orderBy("doc_id")
    },

    // perplexity-style quality scoring (the CCNet filter): train a
    // unigram LM on the corpus itself (token counts / total), score
    // each doc by its cross-entropy −(1/n)Σ ln p(w). Per-token log
    // probs round to 6 decimals (the transcendental rule) and sum as
    // DECIMAL(18,6), so the per-doc total is exact and order-free on
    // both engines. At scale: one token-count agg, one shuffle join of
    // tokens to counts, one per-doc agg — the whole filter is three
    // hash-partitioned passes over the corpus, no driver state.
    "text_perplexity" -> Q(
      """WITH tok AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE w <> ''
        |), counts AS (
        |  SELECT w, count(*) AS cnt FROM tok GROUP BY w
        |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM counts)
        |SELECT doc_id, count(*) AS n_tokens,
        |  -(CAST(sum(CAST(round(ln(CAST(cnt AS DOUBLE) / n_total), 6) AS DECIMAL(18,6))) AS DOUBLE))
        |    / count(*) AS cross_entropy
        |FROM tok JOIN counts USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
      val counts = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum("cnt").as("n_total"))
      tok.join(counts, "w").crossJoin(broadcast(tot))
        .select(col("doc_id"),
          round(log(col("cnt").cast("double") / col("n_total")), 6)
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (-sum(col("lp")).cast("double") / count(lit(1))).as("cross_entropy"))
        .orderBy("doc_id")
    },

    // duplicate-span flagging (round 6 — the n-gram-coverage side of
    // "deduplicate training data": docs whose 5-grams largely appear in
    // OTHER docs are boilerplate/templated candidates even when no
    // single pair crosses a near-dup threshold). Per doc: distinct
    // 5-grams, how many occur in >= 2 distinct docs, and the fraction.
    // Shape: map-side explode -> two hash aggs -> one equi-join back —
    // no pair enumeration anywhere, linear in corpus size.
    "dedup_ngram_coverage" -> Q(
      """WITH grams AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 4),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS gram
        |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        |    WHERE len(t) >= 5)),
        |df AS (SELECT gram, count(*) AS n_docs FROM grams GROUP BY gram)
        |SELECT doc_id, count(*) AS n_grams,
        |  count(CASE WHEN n_docs >= 2 THEN 1 END) AS n_shared,
        |  round(CAST(count(CASE WHEN n_docs >= 2 THEN 1 END) AS DOUBLE) / count(*), 6) AS shared_frac
        |FROM grams JOIN df USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val grams = Tables.documents(s, d)
        .withColumn("t", split(lower(col("text")), " "))
        .filter(size(col("t")) >= 5)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(t) - 4), i -> concat_ws(' ',
            |  element_at(t, i), element_at(t, i + 1), element_at(t, i + 2),
            |  element_at(t, i + 3), element_at(t, i + 4)))""".stripMargin)).as("gram"))
        .distinct()
      // grams is already distinct per (doc, gram): a plain count IS the
      // document frequency — no second distinct pass
      val df = grams.groupBy("gram").agg(count(lit(1)).as("n_docs"))
      grams.join(df, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("n_docs") >= 2, 1)).as("n_shared"),
          round(count(when(col("n_docs") >= 2, 1)).cast("double") / count(lit(1)), 6)
            .as("shared_frac"))
        .orderBy("doc_id")
    },

    // batch packing (round 6 — the training-data sharding step: assign
    // docs to fixed token-budget batches in a stable order). batch_id =
    // floor(tokens-before-this-doc / budget), computed as a DISTRIBUTED
    // prefix sum: per-shard cumulative sums (window partitioned by a
    // doc_id shard) + broadcast shard offsets — the two-phase scan shape
    // that survives any corpus size, where a global unpartitioned window
    // would funnel every row through ONE task. The oracle replays the
    // naive global cumsum — same numbers, different plan.
    "pipeline_pack_batches" -> Q(
      """WITH t AS (
        |  SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tokens FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS before_t
        |  FROM t)
        |SELECT batch_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM (SELECT doc_id, n_tokens, CAST(before_t // 2000 AS BIGINT) AS batch_id FROM c)
        |GROUP BY batch_id ORDER BY batch_id""".stripMargin) { (s, d) =>
      val budget = 2000L
      val shardW = 125L
      val t = Tables.documents(s, d)
        .select(col("doc_id"), size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
        .withColumn("shard", expr(s"doc_id div $shardW"))
      val inShard = t.withColumn("cum_in", sum(col("n_tokens")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard")
          .orderBy("doc_id").rowsBetween(Long.MinValue, 0)))
      // tiny per-shard totals -> running offsets (|shards| rows, broadcast)
      val offsets = t.groupBy("shard").agg(sum("n_tokens").as("tot"))
        .withColumn("offset", coalesce(sum(col("tot")).over(
          org.apache.spark.sql.expressions.Window.orderBy("shard")
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select(col("shard"), col("offset"))
      inShard.join(broadcast(offsets), "shard")
        .select(col("doc_id"), col("n_tokens"),
          expr(s"(offset + cum_in - n_tokens) div $budget").as("batch_id"))
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("batch_id")
    },

    // PARAGRAPH-level exact dedup with document RECONSTRUCTION — the
    // sequence-level pass of Lee et al. 2022 ("Deduplicating Training
    // Data Makes Language Models Better"): doc-level dedup misses the
    // boilerplate paragraph pasted into thousands of otherwise-unique
    // pages; here every 10-word span is hashed, the globally FIRST
    // occurrence (min (doc_id, chunk_idx)) survives, later copies are
    // cut and each doc is rebuilt from its surviving spans in order.
    // Shape: map-side chunking (slice/transform on the word array — no
    // per-word explode), one md5-keyed window bounded by each chunk's
    // own duplicate count (never corpus-wide), one per-doc hash agg to
    // rebuild; docs that lose EVERY span survive as empty text via the
    // left join, so corpus row count is conserved. At 100 TB every
    // stage keys on chunk-hash or doc_id — co-partitioned, no skew
    // beyond the duplicate distribution itself (the paper's own
    // bound).
    "text_dedup_paragraph" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, c AS ci,
        |    array_to_string(list_slice(w, c * 10 + 1, c * 10 + 10), ' ') AS chunk
        |  FROM (SELECT doc_id, w, unnest(generate_series(0, (len(w) - 1) // 10)) AS c FROM w)),
        |h AS (SELECT doc_id, ci, chunk, md5(chunk) AS h FROM ch),
        |k AS (SELECT doc_id, ci, chunk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, ci) AS rn FROM h)
        |  WHERE rn = 1),
        |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM h GROUP BY doc_id),
        |kp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |         string_agg(chunk, ' ' ORDER BY ci) AS new_text
        |       FROM k GROUP BY doc_id)
        |SELECT st.doc_id, st.n_chunks, CAST(coalesce(kp.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(kp.new_text, '') AS new_text
        |FROM st LEFT JOIN kp USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ch = Tables.documents(s, d)
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, (size(w) - 1) div 10),
            |  c -> array_join(slice(w, c * 10 + 1, 10), ' '))""".stripMargin))
          .as(Seq("ci", "chunk")))
        .withColumn("h", md5(col("chunk").cast("binary")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("h").orderBy("doc_id", "ci")
      val kept = ch.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      val stats = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      val rebuilt = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          expr("array_join(transform(array_sort(collect_list(struct(ci, chunk))), x -> x.chunk), ' ')")
            .as("new_text"))
      stats.join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("new_text"), lit("")).as("new_text"))
        .orderBy("doc_id")
    }
  )

  /** Body of `text_fuzzy_match`, parameterized over the part table so
    * EdgeSpec can inject a degenerate corpus against the mega-bucket
    * guard. Candidate key = (p_brand, p_size, word): a stopword-like
    * token shared by k parts within one (brand, size) group would emit
    * k²/2 candidate rows, so the per-key count is checked IN the join
    * key (the Multimodal SimHash-segment pattern) — the plan raises
    * loudly before any pair is enumerated instead of OOMing a task.
    */
  def fuzzyMatch(parts: DataFrame, cap: Int = graft.llm.Dedup.DefaultMaxBucket): DataFrame = {
    val p = parts.select("p_partkey", "p_brand", "p_size", "p_name")
    val w = p.withColumn("word", explode(split(col("p_name"), " ")))
    // r21 (guide §2.4, the signCandidatesOf rule): bucket-collect pair
    // enumeration — one evaluation of the explode pipeline instead of
    // four (counts join + both self-join sides); the same cap guards
    // the in-bucket product in-plan, and the length-window prefilter
    // applies inside the bucket before the levenshtein verify.
    // r22 ([[graft.ext.BoundedCollectList]] via [[graft.llm.Buckets]],
    // VERDICT r21 wrong-#2): cap enforced DURING accumulation — no
    // buffer ever materializes a mega bucket; chunked pair enumeration.
    graft.llm.Buckets.pairsAB(
      graft.llm.Buckets.guardedCollect(w, Seq("p_brand", "p_size", "word"),
        struct(col("p_partkey"), col("p_name")), cap,
        s"fuzzy-match mega-bucket: more than $cap parts share one " +
          "(brand, size, word) key (cap " + cap + ") — a degenerate name " +
          "region; normalize or stoplist the token upstream, or raise " +
          "spark.graft.lsh.maxBucket"),
      Seq("p_brand", "p_size", "word"))
      .select(col("a.p_partkey").as("id1"), col("b.p_partkey").as("id2"),
        col("a.p_name").as("n1"), col("b.p_name").as("n2"))
      // id1 < id2 (strict): a word repeated WITHIN one name puts the
      // same part in the bucket twice — the old self-join's < predicate
      // excluded those self-pairs, the sorted explode only gives <=
      .filter(col("id1") < col("id2")
        && abs(length(col("n1")) - length(col("n2"))) <= 1)
      .distinct()
      .withColumn("dist", levenshtein(col("n1"), col("n2")))
      .filter(col("dist") <= 2)
      .select(col("id1"), col("id2"), col("dist"))
      .orderBy("id1", "id2")
  }

  /** Body of `text_hamming_pairs`, parameterized over the documents
    * table so EdgeSpec can inject a degenerate corpus against the
    * mega-bucket guard. Candidate key = (seg_ix, seg): k docs sharing
    * one 8-char segment (boilerplate prefixes are near-certain in web
    * corpora) would emit k²/2 candidate rows, so the per-key count is
    * checked IN the join key — raises loudly before pair enumeration.
    * The segment equi-join itself stays pigeonhole-exact for recall.
    */
  def hammingPairs(docs: DataFrame, cap: Int = graft.llm.Dedup.DefaultMaxBucket): DataFrame = {
    val keys = docs.select(col("doc_id"),
      rpad(substring(regexp_replace(col("text"), " ", ""), 1, 24), 24, "#").as("k"))
    val segs = keys.select(col("doc_id"), col("k"),
      posexplode(array((1 to 3).map(i => substring(col("k"), (i - 1) * 8 + 1, 8)): _*))
        .as(Seq("seg_ix", "seg")))
    // r21 (guide §2.4, the signCandidatesOf rule): bucket-collect pair
    // enumeration — ONE evaluation of the keys/segs pipeline instead of
    // four (the counts join + guarded self-join re-evaluated it per
    // side). sort_array on (doc_id, k) structs orders by doc_id, so the
    // i<j explode emits doc_id1 < doc_id2 exactly as the self-join did;
    // the same cap guards the in-bucket product in-plan.
    // r22 ([[graft.ext.BoundedCollectList]] via [[graft.llm.Buckets]],
    // VERDICT r21 wrong-#2): cap enforced DURING accumulation — no
    // buffer ever materializes a mega bucket; chunked pair enumeration.
    graft.llm.Buckets.pairsAB(
      graft.llm.Buckets.guardedCollect(segs, Seq("seg_ix", "seg"),
        struct(col("doc_id"), col("k")), cap,
        s"Hamming mega-bucket: more than $cap docs share one 8-char " +
          "segment (cap " + cap + ") — a degenerate corpus region; remove " +
          "exact duplicates upstream (pipeline_corpus_clean) or raise " +
          "spark.graft.lsh.maxBucket"),
      Seq("seg_ix", "seg"))
      .select(col("a.doc_id").as("doc_id1"), col("b.doc_id").as("doc_id2"),
        col("a.k").as("k1"), col("b.k").as("k2"))
      .distinct()
      .withColumn("hd", expr(
        "size(filter(sequence(1, 24), i -> substring(k1, i, 1) <> substring(k2, i, 1)))"))
      .filter(col("hd") <= 2)
      .select(col("doc_id1"), col("doc_id2"), col("hd"))
      .orderBy("doc_id1", "doc_id2")
  }
}
