package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pre-commit hook that lands an ADD CONSTRAINT between the host
 * write's validation pass and its commit — the deterministic way to
 * force the constraint/write race. */
class ConcurrentConstraintHook extends graft.write.PreCommitHook {
  override def name: String = "race-constraint"
  override def run(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[graft.core.model.IndexFile]): Map[String, String] = {
    graft.table.QbeastTable.forPath(spark, ConcurrentConstraintHook.tableDir.get())
      .addConstraint("late", "b >= 0")
    Map.empty
  }
}

object ConcurrentConstraintHook {
  val tableDir = new java.util.concurrent.atomic.AtomicReference[String]()
}

/** A value that flips from valid to violating after its first
 * evaluation — the deterministic stand-in for a nondeterministic
 * source whose validation draw differs from its write draw. */
object FlipValue {
  val calls = new java.util.concurrent.atomic.AtomicInteger()
}

/** CHECK constraints (write/Constraints.scala + QbeastTable.add/
 * dropConstraint + the ALTER TABLE ... CONSTRAINT SQL statements):
 * SQL-standard semantics (TRUE and NULL pass, FALSE violates),
 * existing data validated at ADD time, every written/changed row
 * gated afterwards. */
class ConstraintSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String = {
    val dir = TestSpark.tmpDir("qbeast-constraint")
    (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("a", "b")
      .write.format("qbeast").option("columnsToIndex", "a,b")
      .option("cubeSize", "100").save(dir)
    dir
  }

  test("ADD validates existing data; appends are gated; DROP releases") {
    val dir = freshTable()
    val t = table.QbeastTable.forPath(spark, dir)
    // existing data violates -> rejected, nothing recorded
    val bad = intercept[IllegalArgumentException] { t.addConstraint("small", "a < 50") }
    assert(bad.getMessage.contains("small") && bad.getMessage.contains("a < 50"))
    assert(t.constraints.isEmpty)

    t.addConstraint("positive", "b >= 0")
    assert(t.constraints == Map("positive" -> "b >= 0"))
    assert(intercept[IllegalArgumentException] {
      t.addConstraint("positive", "b >= 1")
    }.getMessage.contains("already exists"))

    // clean append passes; violating append fails NAMING the constraint
    Seq((200L, 5.0)).toDF("a", "b").write.format("qbeast")
      .option("cubeSize", "100").mode("append").save(dir)
    val e = intercept[Exception] {
      Seq((201L, -1.0)).toDF("a", "b").write.format("qbeast")
        .option("cubeSize", "100").mode("append").save(dir)
    }
    assert(e.getMessage.contains("positive") && e.getMessage.contains("b >= 0"))
    assert(spark.read.format("qbeast").load(dir).count() == 101)

    t.dropConstraint("positive")
    Seq((202L, -1.0)).toDF("a", "b").write.format("qbeast")
      .option("cubeSize", "100").mode("append").save(dir)
    assert(spark.read.format("qbeast").load(dir).count() == 102)
    assert(intercept[IllegalArgumentException] {
      t.dropConstraint("positive")
    }.getMessage.contains("no constraint"))
  }

  test("NULL passes (SQL-standard UNKNOWN); FALSE violates") {
    val dir = freshTable()
    val t = table.QbeastTable.forPath(spark, dir)
    t.addConstraint("positive", "b >= 0")
    // a null b row is UNKNOWN -> passes
    Seq((300L, null.asInstanceOf[java.lang.Double])).toDF("a", "b")
      .write.format("qbeast").option("cubeSize", "100").mode("append").save(dir)
    assert(spark.read.format("qbeast").load(dir).count() == 101)
  }

  test("UPDATE and upsert rows are gated; survivors never re-validate") {
    val dir = freshTable()
    val t = table.QbeastTable.forPath(spark, dir)
    t.addConstraint("positive", "b >= 0")
    // an UPDATE assigning a violating value fails, table unchanged
    val e = intercept[IllegalArgumentException] {
      t.update("a <= 3", Map("b" -> "-b"))
    }
    assert(e.getMessage.contains("positive"))
    assert(spark.read.format("qbeast").load(dir)
      .filter(col("b") < 0).count() == 0)
    // a clean UPDATE still works
    t.update("a <= 3", Map("b" -> "b + 1"))
    // upsert with a violating source row fails before anything commits
    val v0 = t.snapshot.version
    val e2 = intercept[IllegalArgumentException] {
      t.upsert(Seq((1L, -5.0)).toDF("a", "b"), Seq("a"))
    }
    assert(e2.getMessage.contains("positive"))
    assert(t.snapshot.version == v0)
    // clean upsert passes
    t.upsert(Seq((1L, 500.0)).toDF("a", "b"), Seq("a"))
    assert(spark.read.format("qbeast").load(dir)
      .filter(col("a") === 1).select("b").head.getDouble(0) == 500.0)
  }

  test("nondeterministic inputs are gated per-row inside the write itself") {
    // rand() re-draws on every execution: a separate validation job
    // could pass while the write job draws violating rows. Enforcement
    // rides the write task (index()'s _qbeastCheck column), so the rows
    // gated are exactly the rows written.
    val dir = freshTable()
    val t = table.QbeastTable.forPath(spark, dir)
    t.addConstraint("positive", "b >= 0")
    val e = intercept[Exception] {
      spark.range(500).select((col("id") % 100 + 1).as("a"),
        (rand(7) * 2 - 1).as("b")) // ~half the draws violate
        .write.format("qbeast").option("cubeSize", "100").mode("append").save(dir)
    }
    assert(e.getMessage.contains("positive") && e.getMessage.contains("b >= 0"),
      e.getMessage)
    assert(spark.read.format("qbeast").load(dir).filter(col("b") < 0).count() == 0)
    assert(spark.read.format("qbeast").load(dir).count() == 100)

    // a clean nondeterministic input passes, and the enforcement column
    // never leaks into the written schema
    spark.range(100).select((col("id") + 1000).as("a"), rand(7).as("b"))
      .write.format("qbeast").option("cubeSize", "100").mode("append").save(dir)
    val back = spark.read.format("qbeast").load(dir)
    assert(back.schema.fieldNames.toSet == Set("a", "b"))
    assert(back.filter(col("a") >= 1000).count() == 100)
  }

  test("upsert materializes its source: validated rows ARE the written rows") {
    // a nondeterministic source draws DIFFERENT values per execution.
    // upsert materializes the source once (localCheckpoint — Delta
    // materializes merge sources for the same hazard), so the rows the
    // driver-side validation saw are bit-for-bit the rows written: no
    // later job can redraw a violating value, and the committed row is
    // the first (validated) draw. The per-row write backstop for plans
    // that DON'T materialize is pinned by the neighboring
    // "nondeterministic inputs are gated per-row" test.
    val dir = freshTable()
    val t = table.QbeastTable.forPath(spark, dir)
    t.addConstraint("positive", "b >= 0")
    FlipValue.calls.set(0)
    val flip = udf((i: Long) =>
      if (FlipValue.calls.getAndIncrement() == 0) 1.0 else -1.0).asNondeterministic()
    val src = Seq(1L).toDF("a").select(col("a"), flip(col("a")).as("b"))
    t.upsert(src, Seq("a")) // first draw passes; no later job redraws
    val got = spark.read.format("qbeast").load(dir)
      .filter(col("a") === 1L).select("b").collect().map(_.getDouble(0))
    assert(got.sameElements(Array(1.0)),
      s"the committed row must be the validated first draw, got ${got.mkString(",")}")
    assert(spark.read.format("qbeast").load(dir).filter(col("b") < 0).count() == 0,
      "a violating redraw must never commit")
  }

  test("a constraint landing mid-write still gates the racing write") {
    // violating data: the write validated before the constraint existed,
    // the hook adds it pre-commit, the conflict rebase must re-validate
    val dir = freshTable()
    ConcurrentConstraintHook.tableDir.set(dir)
    val e = intercept[Exception] {
      Seq((500L, -9.0)).toDF("a", "b").write.format("qbeast")
        .option("cubeSize", "100")
        .option("hook.race", classOf[ConcurrentConstraintHook].getName)
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("late"), e.getMessage)
    val t = table.QbeastTable.forPath(spark, dir)
    assert(t.constraints.keySet == Set("late")) // the hook's add survives
    assert(spark.read.format("qbeast").load(dir).filter(col("b") < 0).count() == 0)

    // clean data: the same race passes through the re-validation
    val dir2 = freshTable()
    ConcurrentConstraintHook.tableDir.set(dir2)
    Seq((500L, 9.0)).toDF("a", "b").write.format("qbeast")
      .option("cubeSize", "100")
      .option("hook.race", classOf[ConcurrentConstraintHook].getName)
      .mode("append").save(dir2)
    assert(spark.read.format("qbeast").load(dir2).count() == 101)
  }

  test("a constraint landing mid-write gates a nondeterministic write by its written files") {
    // the rebase reads back the files the write produced, so a redraw of
    // the input can neither fail the clean write nor pass a violating one
    def racingAppend(dir: String, b: org.apache.spark.sql.Column): Unit = {
      ConcurrentConstraintHook.tableDir.set(dir)
      spark.range(50).select((col("id") + 1000).as("a"), b.as("b"))
        .write.format("qbeast").option("cubeSize", "100")
        .option("hook.race", classOf[ConcurrentConstraintHook].getName)
        .mode("append").save(dir)
    }
    val clean = freshTable()
    racingAppend(clean, rand(7))
    assert(spark.read.format("qbeast").load(clean).count() == 150)
    val violating = freshTable()
    val e = intercept[Exception](racingAppend(violating, -rand(7) - 1))
    assert(e.getMessage.contains("late"), e.getMessage)
    assert(spark.read.format("qbeast").load(violating).count() == 100)
  }

  test("SQL ALTER TABLE ADD/DROP CONSTRAINT; property visible in DESCRIBE DETAIL") {
    val dir = freshTable()
    val out = spark.sql(
      s"ALTER TABLE '$dir' ADD CONSTRAINT price_ok CHECK (b >= 0 AND a > 0)")
      .collect().head
    assert(out.getString(0) == "price_ok" && out.getString(1) == "added")
    val props = spark.sql(s"DESCRIBE DETAIL '$dir'").collect().head.getString(8)
    assert(props.contains("qbeast.constraints.price_ok=b >= 0 AND a > 0"))
    val e = intercept[Exception] {
      Seq((0L, 1.0)).toDF("a", "b").write.format("qbeast")
        .option("cubeSize", "100").mode("append").save(dir)
    }
    assert(e.getMessage.contains("price_ok"))
    assert(spark.sql(s"ALTER TABLE '$dir' DROP CONSTRAINT price_ok")
      .collect().head.getString(1) == "dropped")
    assert(table.QbeastTable.forPath(spark, dir).constraints.isEmpty)
  }
}
