package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.{DataSourceScanExec, ExpandExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec
import java.nio.file.{Files, Paths}

/** Writes the plan gate's baseline: one fingerprint row per
  * SparkEntry query, taken from its executed plan (SURVEY.md §5).
  * Coverage is exhaustive by construction: the rows are the `queries`
  * key set itself, sorted by name. tools/check_plans.py compares a
  * fresh file against the committed PLANS.tsv. Full plans stay
  * available through graft.tools.ExplainDump.
  * Usage: graft.Plans [sfDir] [outFile]
  */
object Plans {
  val Fields = Seq("shuffles", "broadcasts", "sorts", "expands", "windows",
    "global_windows", "bhj", "smj", "shj", "bnlj", "cart", "pushdown", "readschema")

  /** Every node of a physical plan, over the edges `treeString` prints:
    * `children`, plus `innerChildren` (subqueries, the plan inside a
    * cached relation), plus AQE's current plan. */
  private def nodes(n: TreeNode[_]): Iterator[TreeNode[_]] = {
    val next = n match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => (n.children ++ n.innerChildren).map(_.asInstanceOf[TreeNode[_]])
    }
    Iterator(n) ++ next.iterator.flatMap(nodes)
  }

  /** Node-class counts of a physical plan, one value per `Fields` name.
    * `global_windows` counts windows with an empty partition spec;
    * `pushdown` and `readschema` are 0/1 over the plan's scans. */
  def fingerprint(plan: SparkPlan): Map[String, Int] = {
    val all = nodes(plan).toSeq
    // a scan's `metadata` (the PushedFilters / ReadSchema that explain
    // prints) is protected in Scala but public in bytecode
    val metadata = classOf[DataSourceScanExec].getMethod("metadata")
    val scans = all.collect { case s: DataSourceScanExec =>
      metadata.invoke(s).asInstanceOf[Map[String, String]]
    }
    def any(p: Map[String, String] => Boolean): Int = if (scans.exists(p)) 1 else 0
    Map(
      "shuffles" -> all.count(_.isInstanceOf[ShuffleExchangeExec]),
      "broadcasts" -> all.count(_.isInstanceOf[BroadcastExchangeExec]),
      "sorts" -> all.count(_.isInstanceOf[SortExec]),
      "expands" -> all.count(_.isInstanceOf[ExpandExec]),
      "windows" -> all.count(_.isInstanceOf[WindowExec]),
      "global_windows" -> all.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      "bhj" -> all.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "smj" -> all.count(_.isInstanceOf[SortMergeJoinExec]),
      "shj" -> all.count(_.isInstanceOf[ShuffledHashJoinExec]),
      "bnlj" -> all.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "cart" -> all.count(_.isInstanceOf[CartesianProductExec]),
      "pushdown" -> any(_.get("PushedFilters").exists(_ != "[]")),
      "readschema" -> any(_.contains("ReadSchema")))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.tsv")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val fp = fingerprint(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
      (name +: Fields.map(fp(_).toString)).mkString("\t")
    }
    Files.writeString(Paths.get(out), (("query" +: Fields).mkString("\t") +: rows).mkString("", "\n", "\n"))
    println(s"wrote $out: ${rows.size} fingerprints")
    spark.stop()
  }
}
