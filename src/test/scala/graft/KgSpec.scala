package graft

import org.scalatest.funsuite.AnyFunSuite

class KgSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("typed Dataset API: case-class views agree with the DataFrames") {
    import spark.implicits._
    val turns = Typed.turns(spark, TestSpark.sf0001)
    assert(turns.count() === 1000)
    // typed transform: compile-time field access
    val toolTurns = turns.filter((t: Turn) => t.tool.isDefined).count()
    assert(toolTurns > 0)
    val quads = Typed.canonicalTriples(spark, TestSpark.sf0001)
    assert(quads.filter((q: Quad) => !q.subj.startsWith("<")).count() === 0)
    assert(quads.count() ===
      pipeline.Kg.canonicalTriples(spark, TestSpark.sf0001).count())
  }

  test("fuzzy mentions: exact matches always link; typos link via LSH") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.linking.Gazetteer
    val gaz = Gazetteer(spark, TestSpark.sf0001)
    val t = Seq(
      ("c1", 0, "user", "we discussed NATION_13 at length", null.asInstanceOf[String],
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("c1", 1, "user", "typo here: NATIONN 13 indeed", null.asInstanceOf[String],
        java.sql.Timestamp.valueOf("2024-01-01 00:01:00"))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    // 8 bands of 2 -> collision prob ≥0.99 at jaccard 0.67 (deterministic
    // hashes: the outcome is fixed, the probability is over string choice)
    val fuzzy = Gazetteer.fuzzyMentions(t, gaz, threshold = 0.5,
      numHashes = 16, rowsPerBand = 2).cache()
    // exact surface occurrence => jaccard 1.0 (identical strings collide
    // in every LSH band, so recall for exact matches is 1)
    assert(fuzzy.filter($"turn_idx" === 0 && $"surface" === "NATION_13" &&
      $"jaccard" === 1.0d).count() === 1)
    // the typo'd span links to the right surface with jaccard < 1
    assert(fuzzy.filter($"turn_idx" === 1 && $"surface" === "NATION_13" &&
      $"jaccard" < 1.0d).count() >= 1)
    fuzzy.unpersist()
  }

  test("mention join routing: broadcast == salted (same rows)") {
    import org.apache.spark.sql.functions._
    import graft.linking.Gazetteer
    val gaz = Gazetteer(spark, TestSpark.sf0001)
    val t = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id").cast("string").as("conv_id"),
        lit(0).as("turn_idx"),
        concat(lit("prefix NATION_"), (col("doc_id") % 30).cast("string"),
          lit(" and nation "), (col("doc_id") % 7).cast("string")).as("text"))
    def run(forced: Option[Boolean]) =
      Gazetteer.mentionsRaw(t, gaz, broadcastGaz = forced).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
        .sorted.toSeq
    val bc = run(Some(true))
    assert(bc.nonEmpty)
    assert(run(Some(false)) === bc)   // salted shuffle join
    // the probe tier itself: a tiny broadcastMaxRows forces the shuffle path
    spark.conf.set("graft.gazetteer.broadcastMaxRows", "1")
    try assert(run(None) === bc)
    finally spark.conf.unset("graft.gazetteer.broadcastMaxRows")
  }

  test("fuzzy mentions: span explode computed once (checkpointed), empty gazetteer is empty not NPE") {
    import spark.implicits._
    import graft.linking.Gazetteer
    val t = Seq(("c1", 0, "user", "hello NATION_1 world",
      null.asInstanceOf[String], java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    // the n-gram chain (zip_with concat) must NOT appear in the final plan:
    // spans are localCheckpoint'ed, so the dominant explode runs exactly once
    val gaz = Gazetteer(spark, TestSpark.sf0001)
    val plan = Gazetteer.fuzzyMentions(t, gaz).queryExecution.optimizedPlan.toString
    assert(!plan.contains("zip_with"), s"n-gram chain recomputed in final plan:\n$plan")
    // empty gazetteer: typed empty frame, same schema
    val emptyGaz = gaz.filter(org.apache.spark.sql.functions.lit(false))
    val out = Gazetteer.fuzzyMentions(t, emptyGaz)
    assert(out.columns.toSeq === Seq("conv_id", "turn_idx", "span", "surface", "alias_iri", "jaccard"))
    assert(out.count() === 0)
  }
}
