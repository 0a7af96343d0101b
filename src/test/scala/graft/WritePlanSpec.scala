package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sinks.SnapshotLake

/** WRITE-path physical plans, pinned (round 16). PlanSpec pins read
  * scans; this spec pins the plans the DML writers build — the defect
  * class "semantically right, physically wrong" (round 15's MOR merge
  * broadcast hint, silently dropped on the preserved side of a
  * right_outer and sort-merge-shuffling the lake's candidate keys every
  * micro-batch) is invisible to oracle rows by construction, so the plan
  * shape itself is the test subject here.
  */
class WritePlanSpec extends SparkSpec with PlanNodes {
  import spark.implicits._

  private def kv(rows: (Long, String, Long)*): DataFrame =
    rows.toSeq.toDF("id", "v", "ver")

  private val kvSchema = StructType(Seq(StructField("id", LongType),
    StructField("v", StringType), StructField("ver", LongType)))

  private def newMorLake(prefix: String, nFiles: Int = 4): String = {
    val root = s"${TempDirs.create(prefix)}/lake"
    SnapshotLake.create(spark, root, kvSchema,
      tableProps = Map("dmlMode" -> "mor", "statsCols" -> "id"))
    val seed = (0L until 40L).map(i => (i, s"v$i", 1L))
      .toDF("id", "v", "ver").repartition(nFiles)
    SnapshotLake.append(spark, root, seed, statsCols = Seq("id"))
    root
  }

  test("mor classify (small batch): the candidate scan feeds a " +
      "BroadcastHashJoin building the KEY-ONLY winner projection — no " +
      "exchange anywhere on the lake side, anti join broadcasts too") {
    val root = newMorLake("wps-mor-seam")
    val base = SnapshotLake.manifest(spark, root)
    val lakeKeys = SnapshotLake
      .readEntriesTagged(spark, root, base, base.files)
      .select(col("id"), col("ver").as("__lv"), col("__rel"), col("__pos"))
    val winners = kv((3L, "u", 2L), (99L, "n", 1L))
    val (classified, _, inserts) = SnapshotLake.morClassify(
      winners, lakeKeys, Seq("id"), "ver", broadcastWinners = true)
    val cNodes = nodes(classified.queryExecution.executedPlan)
    val join = cNodes.collectFirst {
      case b: BroadcastHashJoinExec
        if b.right.output.exists(_.name == "__uv") => b
    }
    assert(join.nonEmpty,
      "the winner match must plan as a BroadcastHashJoin building the " +
        s"slim winner side; got:\n${classified.queryExecution.executedPlan}")
    assert(join.get.buildSide == BuildRight)
    // the broadcast side is the KEY-ONLY projection (key + __uv), never
    // full-width winner rows (byte-unbounded at CDC scale)
    assert(join.get.right.output.map(_.name).toSet == Set("id", "__uv"))
    // the streamed (lake) side: candidate files stream straight into the
    // join — zero shuffles below it (the r15 right_outer exchanged BOTH
    // children here)
    val lakeSide = nodes(join.get.left)
    assert(!lakeSide.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"lake side of the mor merge join must not shuffle:\n${join.get.left}")
    // the only exchange in the whole classification is the window's,
    // over MATCHED rows (O(changed keys)), above the join
    assert(cNodes.count(_.isInstanceOf[ShuffleExchangeLike]) == 1)
    assert(!cNodes.exists(_.isInstanceOf[SortMergeJoinExec]))
    // unmatched-winner selection: broadcast LeftAnti against the losing
    // keys — the streamed winners side never shuffles (the build side
    // legitimately carries the losing-keys distinct, O(matched) rows)
    val iNodes = nodes(inserts.queryExecution.executedPlan)
    val anti = iNodes.collectFirst {
      case b: BroadcastHashJoinExec if b.joinType == LeftAnti => b
    }
    assert(anti.nonEmpty, "insert selection must plan a broadcast anti " +
      s"join:\n${inserts.queryExecution.executedPlan}")
    assert(!nodes(anti.get.left).exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"winners side of the anti join must not shuffle:\n${anti.get.left}")
  }

  test("mor classify (bulk batch): falls back to the shuffled join — " +
      "no full-width winner broadcast is ever hinted") {
    val root = newMorLake("wps-mor-bulk")
    val base = SnapshotLake.manifest(spark, root)
    val lakeKeys = SnapshotLake
      .readEntriesTagged(spark, root, base, base.files)
      .select(col("id"), col("ver").as("__lv"), col("__rel"), col("__pos"))
    val winners = kv((3L, "u", 2L), (99L, "n", 1L))
    val (classified, _, _) = SnapshotLake.morClassify(
      winners, lakeKeys, Seq("id"), "ver", broadcastWinners = false)
    // the planner may still AUTO-broadcast a tiny fixture; the pin is
    // about the HINT, so turn size-based broadcasting off for the plan
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cNodes = nodes(classified.queryExecution.executedPlan)
      assert(!cNodes.exists {
        case b: BroadcastHashJoinExec =>
          b.right.output.exists(_.name == "__uv")
        case _ => false
      }, "bulk merges must not hint-broadcast the winner set")
      assert(cNodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        "bulk fallback should keep the shuffled join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("a real small mor merge executes broadcast-only: no SortMergeJoin " +
      "in ANY execution it fires (including inside cached plans)") {
    val root = newMorLake("wps-mor-real")
    val qes = captured {
      SnapshotLake.merge(spark, root, kv((3L, "u", 2L), (7L, "u", 2L),
        (99L, "n", 1L)), keyCols = Seq("id"), versionCol = "ver",
        pruneKey = "id")
    }
    assert(qes.nonEmpty)
    val all = allNodes(qes)
    assert(!all.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a CDC-sized mor merge must never sort-merge-shuffle the lake")
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
    assert(all.exists {
      case b: BroadcastHashJoinExec => b.right.output.exists(_.name == "__uv")
      case _ => false
    }, "the winner match join went missing from the executed plans")
    // semantics unchanged by the plan work
    val state = SnapshotLake.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state(3L) == "u" && state(7L) == "u" && state(99L) == "n")
    assert(state.size == 41)
  }

  test("cow merge: ONE window collapse with ONE exchange per execution — " +
      "no join anywhere (keep-latest is a union + window, not a shuffle " +
      "join)") {
    val root = s"${TempDirs.create("wps-cow")}/lake"
    val seed = (0L until 40L).map(i => (i, s"v$i", 1L))
      .toDF("id", "v", "ver").repartition(4)
    SnapshotLake.append(spark, root, seed, statsCols = Seq("id"))
    val qes = captured {
      SnapshotLake.merge(spark, root, kv((3L, "u", 2L), (99L, "n", 1L)),
        keyCols = Seq("id"), versionCol = "ver", pruneKey = "id")
    }
    val all = allNodes(qes)
    assert(all.exists(_.isInstanceOf[WindowExec]),
      "cow keep-latest must run through the window collapse")
    assert(!all.exists(_.isInstanceOf[SortMergeJoinExec]))
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]))
    qes.foreach { qe =>
      val n = nodes(qe.executedPlan).count(_.isInstanceOf[ShuffleExchangeLike])
      assert(n <= 1, s"cow merge execution wants <=1 exchange, got $n:\n" +
        qe.executedPlan)
    }
  }

  test("delete's pruned rewrite is shuffle-free: the kept rows stream " +
      "from the candidate files straight into the staged write") {
    val root = s"${TempDirs.create("wps-del")}/lake"
    val seed = (0L until 40L).map(i => (i, s"v$i", 1L))
      .toDF("id", "v", "ver").repartition(4)
    SnapshotLake.append(spark, root, seed, statsCols = Seq("id"))
    val qes = captured {
      SnapshotLake.delete(spark, root, col("id") === 3L,
        pruneBox = Map("id" -> (3.0, 3.0)))
    }
    val all = allNodes(qes)
    assert(!all.exists(_.isInstanceOf[SortMergeJoinExec]))
    assert(!all.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    // the rewrite write itself: zero exchanges (read -> filter -> write)
    val writes = qes.filter(qe =>
      nodes(qe.executedPlan).exists(p =>
        p.nodeName.contains("AppendData") ||
          p.nodeName.contains("WriteFiles") ||
          p.nodeName.contains("InsertIntoHadoopFsRelationCommand") ||
          p.nodeName.contains("DataWritingCommand")))
    assert(writes.nonEmpty, "no staged write captured")
    writes.foreach { qe =>
      assert(!nodes(qe.executedPlan).exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"delete rewrite must be shuffle-free:\n${qe.executedPlan}")
    }
  }
}
