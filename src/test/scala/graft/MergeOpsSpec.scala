package graft

import graft.operators.MergeOps
import org.apache.spark.sql.functions._

/** MERGE semantics beyond the oracled upsert query (o30): the SQL
  * multiple-match error and its survival under column pruning, and null
  * keys as independent inserts. */
class MergeOpsSpec extends SparkSpec {

  import spark.implicits._

  test("duplicate source keys raise like SQL MERGE, not fan out") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val dupSrc = Seq((1L, "x"), (1L, "y"), (3L, "z")).toDF("k", "v")
    val ex = intercept[Exception] {
      MergeOps.merge(target, dupSrc, Seq("k")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("multiple source rows")),
      s"expected the MERGE duplicate-key error, got: $ex")
    // unique keys keep working and produce no extra job artifacts
    val ok = MergeOps.merge(target,
      Seq((1L, "x"), (3L, "z")).toDF("k", "v"), Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(ok.toSeq == Seq((1L, "x"), (2L, "b"), (3L, "z")))
  }

  test("duplicate-key guard survives column pruning (.select, .count)") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val dupSrc = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    // consumer references only a non-key column: the old output-column
    // guard rode column 0 of the Project and was pruned away here
    val exSel = intercept[Exception] {
      MergeOps.merge(target, dupSrc, Seq("k")).select("v").collect()
    }
    assert(msgs(exSel).exists(_.contains("multiple source rows")),
      s"guard must survive .select of a non-first column, got: $exSel")
    // consumer references NO columns at all
    val exCnt = intercept[Exception] {
      MergeOps.merge(target, dupSrc, Seq("k")).count()
    }
    assert(msgs(exCnt).exists(_.contains("multiple source rows")),
      s"guard must survive .count(), got: $exCnt")
  }

  test("duplicate keys raise even when every duplicate satisfies deleteWhen") {
    val target = Seq((1L, "a")).toDF("k", "v")
    val dupSrc = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
      .withColumn("del", lit(1))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    // SQL MERGE errors on the second touch of a target row, DELETE
    // included; the old guard ran after the deleteWhen filter and never saw
    // the duplicates when all of them were deletes
    val ex = intercept[Exception] {
      MergeOps.merge(target, dupSrc, Seq("k"),
        deleteWhen = Some(col("del") === 1)).collect()
    }
    assert(msgs(ex).exists(_.contains("multiple source rows")),
      s"expected the MERGE duplicate-key error, got: $ex")
  }

  test("null source keys are independent inserts, never the multiple-match error") {
    val target = Seq((Some(1L), "a")).toDF("k", "v")
    // two null-key rows: SQL equality never matches them to anything, so
    // both INSERT — the duplicate-key guard must not fire on them
    val src = Seq((Option.empty[Long], "x"), (Option.empty[Long], "y"),
      (Some(2L), "z")).toDF("k", "v")
    val out = MergeOps.merge(target, src, Seq("k"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getString(1))).sorted.toSeq
    assert(out == Seq((-1L, "x"), (-1L, "y"), (1L, "a"), (2L, "z")))
  }
}
