package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Evolution, TextAnalysis}

/** Round-7 continuation additions: privacy l-diversity, join-cardinality
  * audit, Gopher top-bigram repetition, token-budget plan, group split.
  */
class Round7bSpec extends SparkSpec {
  import spark.implicits._

  test("l-diversity: low-diversity group detected even when k-anonymous") {
    // group (1, 'A'): 4 rows but only ONE sensitive value -> diversity 1
    // group (2, 'B'): 3 rows with 3 distinct sensitive values -> ok at l=3
    val df = Seq(
      (1, "A", 10), (1, "A", 10), (1, "A", 10), (1, "A", 10),
      (2, "B", 1), (2, "B", 2), (2, "B", 3)
    ).toDF("g1", "g2", "sens")
    val r = Evolution.lDiversity(df, Seq(col("g1"), col("g2")),
      col("sens"), l = 3).head()
    assert(r.getAs[Long]("n_groups") == 2L)
    assert(r.getAs[Long]("n_low_div_groups") == 1L)
    assert(r.getAs[Long]("n_rows_at_risk") == 4L)
    assert(r.getAs[Long]("min_diversity") == 1L)
  }

  test("join-cardinality audit: exact Σ n_a·n_b without running the join") {
    val a = Seq(1, 1, 2).toDF("k")
    val b = Seq(1, 2, 2, 3).toDF("k")
    val r = Evolution.joinCardinalityAudit(a, b, "k", "k").head()
    // key 1: 2·1 = 2, key 2: 1·2 = 2 -> est 4; key 3 unmatched
    assert(r.getAs[Long]("n_matching_keys") == 2L)
    assert(r.getAs[Long]("est_join_rows") == 4L)
    assert(r.getAs[Long]("max_key_contrib") == 2L)
    assert(r.getAs[Long]("amplification_x1000") == 1000L)
    // the audit's estimate equals the true join size by identity
    assert(a.join(b, "k").count() == 4L)
  }

  test("top-bigram share catches the two-token loop unigram screen misses") {
    val q = TextAnalysis.queries("q_top_bigram")
    val docs = Seq(
      (0L, "the cat the cat the cat"), // bigram 'the cat' 3 of 5
      (1L, "all distinct words here now"),
      (2L, "solo")
    ).toDF("doc_id", "text")
    // drive the operator body directly on a planted frame
    val bg = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2)," +
          " i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"))
        .as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max(col("cnt")).as("top_cnt"),
        sum(col("cnt")).as("n_bigrams"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bg(0L) == (3L, 5L)) // 'the cat' x3 over 5 bigrams -> 0.6
    assert(bg(1L) == (1L, 4L))
    assert(!bg.contains(2L)) // single-token doc: no phantom bigram
    // and the gated query is well-formed on the real corpus
    val real = q(spark, sfDir)
    assert(real.count() > 0)
    assert(real.filter(col("rep2_ratio") > 1.0 || col("rep2_ratio") < 0.0)
      .count() == 0)
  }

  test("group split: user-level assignment has zero cross-split leakage") {
    val r = Curation.queries("q_group_split")(spark, sfDir)
      .collect()
    assert(r.length == 3)
    assert(r.map(_.getAs[Long]("users_spanning")).sum == 0L)
    val events = Tables.events(spark, sfDir)
    assert(r.map(_.getAs[Long]("n_events")).sum == events.count())
    assert(r.map(_.getAs[Long]("n_users")).sum ==
      events.select("user_id").distinct().count())
  }

  test("cuped: exact linear pre/post relation gives theta=2, 100% reduction") {
    // user u: pre-period (day 0) spend u, post-period (day 10) spend 2u
    // -> y = 2x exactly, so cov/var = 2 and adjusted variance collapses
    val ts0 = java.sql.Timestamp.valueOf("1970-01-01 12:00:00")
    val ts1 = java.sql.Timestamp.valueOf("1970-01-11 12:00:00")
    val ev = (1 to 10).flatMap { u =>
      Seq((u.toLong, "purchase", ts0, u.toDouble),
        (u.toLong, "purchase", ts1, 2.0 * u))
    }.toDF("user_id", "event_type", "ts", "value")
    val r = graft.operators.Analytics.cuped(ev).head()
    assert(r.getAs[Long]("n_users") == 10L)
    assert(math.abs(r.getAs[Double]("theta") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("var_adj")) < 1e-9)
    assert(math.abs(r.getAs[Double]("var_reduction_pct") - 100.0) < 1e-9)
    // var(y) = var(2..20) population variance = 4 * 8.25 = 33 dollars^2
    assert(math.abs(r.getAs[Double]("var_y") - 33.0) < 1e-9)
  }

  test("schema drift classifies added/removed/type_changed from footers") {
    val a = Scratch.dir("r7b_schema_a")
    val b = Scratch.dir("r7b_schema_b")
    Seq((1L, "x", 1.0)).toDF("id", "name", "score").write
      .mode("overwrite").parquet(a)
    Seq((1, "x", true)).toDF("id", "flag", "extra").write
      .mode("overwrite").parquet(b) // id long->int, name removed, 2 added
    val got = Evolution.schemaDrift(spark, a, b).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("id" -> "type_changed", "name" -> "removed",
      "score" -> "removed", "flag" -> "added", "extra" -> "added"))
  }

  test("hll intersection: IE estimate honors set identities on the corpus") {
    val r = graft.operators.Sketches.queries("q_hll_intersection")(spark, sfDir)
      .head()
    val (ea, eb) = (r.getAs[Long]("exact_a"), r.getAs[Long]("exact_b"))
    val (eu, ei) = (r.getAs[Long]("exact_union"),
      r.getAs[Long]("exact_intersection"))
    assert(eu == ea + eb - ei) // inclusion-exclusion on the exact twin
    assert(ei <= math.min(ea, eb))
    assert(r.getAs[Boolean]("within_tol"))
  }

  test("kaplan-meier: planted churn/censor table matches the hand product") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      f"1970-01-${day + 1}%02d 12:00:00")
    // max day = 10. u1 span 0-1 (churn, dur 1); u2 span 0-2 (churn, dur
    // 2); u3 span 7-10 (censored, dur 3); u4 span 0-10 (censored).
    val ev = Seq(
      (1L, ts(0)), (1L, ts(1)),
      (2L, ts(0)), (2L, ts(2)),
      (3L, ts(7)), (3L, ts(10)),
      (4L, ts(0)), (4L, ts(10))
    ).toDF("user_id", "ts")
    val rows = graft.operators.Analytics.kaplanMeier(ev).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      1 -> (4L, 1L, 0.75), // S(1) = 1 - 1/4
      2 -> (3L, 1L, 0.5))) // S(2) = 0.75 * (1 - 1/3)
  }

  test("mde: scalar report is internally consistent on the corpus") {
    val r = graft.operators.Analytics.queries("q_mde")(spark, sfDir).head()
    val (mean, variance) = (r.getAs[Double]("mean"), r.getAs[Double]("variance"))
    val (abs, rel) = (r.getAs[Double]("mde_abs"), r.getAs[Double]("mde_rel_pct"))
    assert(mean > 0 && variance > 0 && abs > 0)
    assert(math.abs(rel - abs / mean * 100.0) < 1e-3)
    // halving n per arm must inflate the MDE by ~sqrt(2)
    val n = r.getAs[Long]("n_per_arm")
    val expected = 2.801585 * math.sqrt(2.0 * variance / n)
    assert(math.abs(abs - expected) < 1e-3)
  }

  test("rfm: quartile scores partition the purchasing-user population") {
    val rows = graft.operators.Analytics.queries("q_rfm")(spark, sfDir).collect()
    rows.foreach { r =>
      (0 to 2).foreach(i => assert(r.getInt(i) >= 1 && r.getInt(i) <= 4))
    }
    val buyers = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == buyers)
  }

  test("phrase search counts overlapping adjacencies via positional join") {
    val docs = Seq(
      (1L, "go go go stop"),          // 'go go' overlaps: 2 occurrences
      (2L, "go stop go"),             // none adjacent
      (3L, "stop go go stop go go")   // 2
    ).toDF("doc_id", "text")
    val got = graft.operators.Retrieval.phraseSearch(docs, "go", "go")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 3L -> 2L))
  }

  test("zonemap audit: sorted layout prunes, insertion layout cannot") {
    val rows = graft.operators.Relational.queries("q_zonemap_prune")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (ft, fs, rt, rs) = rows("date_sorted")
    val (_, fi, _, ri) = rows("insertion")
    assert(ft <= 64 && fs >= 1)
    assert(rs < rt / 5, s"sorted layout must prune hard: $rs of $rt")
    assert(ri > rs, "insertion order must scan more than the sorted layout")
  }

  test("blocklist: strict and ratio keeps disagree exactly at the 5% line") {
    val rows = Curation.queries("q_blocklist")(spark, sfDir).collect()
    rows.foreach { r =>
      val (hits, strict, ratio) = (r.getAs[Long]("n_hits"),
        r.getAs[Boolean]("keep_strict"), r.getAs[Boolean]("keep_ratio"))
      assert(strict == (hits == 0))
      if (strict) assert(ratio) // zero hits always passes the ratio keep
    }
    // the synthetic list does hit the corpus (the gate isn't vacuous)
    assert(rows.exists(_.getAs[Long]("n_hits") > 0))
  }

  test("did: cells partition purchases; estimate matches hand recompute") {
    val r = graft.operators.Analytics.queries("q_did")(spark, sfDir).head()
    val ns = Seq("n_t_pre", "n_t_post", "n_c_pre", "n_c_post")
      .map(r.getAs[Long](_))
    assert(ns.forall(_ > 0))
    val total = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .count()
    assert(ns.sum == total)
  }

  test("token budget: uniform 2x-corpus plan conserves the budget") {
    val rows = Curation.queries("q_token_budget")(spark, sfDir).collect()
    val totalTok = rows.map(_.getAs[Long]("tokens")).sum
    val budgets = rows.map(_.getAs[Long]("budget_tokens"))
    // every source gets the same uniform slice; sum ~= 2x corpus (integer
    // division loses < n_sources tokens)
    assert(budgets.distinct.length == 1)
    val lost = 2 * totalTok - budgets.sum
    assert(lost >= 0 && lost < rows.length.toLong,
      s"budget must be 2x total minus div remainder, lost=$lost")
    rows.foreach { r =>
      val ppm = r.getAs[Long]("epochs_ppm")
      assert(ppm == r.getAs[Long]("budget_tokens") * 1000000L /
        r.getAs[Long]("tokens"))
      assert(r.getAs[Boolean]("oversampled") == (ppm > 1000000L))
    }
  }
}
