package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Hand-traced semantics for the round-10 keys: the oracle hash-compare
  * proves Spark == DuckDB; these prove both match the DEFINITION on
  * graphs small enough to walk the integer trajectories by hand. */
class Round10EdgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** nations 0,1,2 with trade edges 0→1 and 1→2 (directed path). */
  private def pathDir(): String = {
    val dir = Files.createTempDirectory("r10graph").toString
    Seq((0L, "ALGERIA"), (1L, "BRAZIL"), (2L, "CANADA"))
      .toDF("n_nationkey", "n_name").coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, 0L), (2L, 1L)).toDF("c_custkey", "c_nationkey").coalesce(1)
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L), (2L, 2L)).toDF("s_suppkey", "s_nationkey").coalesce(1)
      .write.parquet(s"$dir/supplier.parquet")
    Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, 1L), (20L, 2L)).toDF("l_orderkey", "l_suppkey").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("graph_ppr: restart mass stays at the seed; a dangling chain reaches its fixpoint") {
    // edges 0→1 only (nation 2 isolated): seed 0 keeps exactly the
    // 150000000 restart after iteration 1 (its own mass left, nothing
    // returns), so from iteration 2 on r1 = 85·150000000÷100 =
    // 127500000 — stationary well before the 10th iteration.
    val dir = Files.createTempDirectory("r10ppr").toString
    Seq((0L, "ALGERIA"), (1L, "BRAZIL"), (2L, "CANADA"))
      .toDF("n_nationkey", "n_name").coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, 0L)).toDF("c_custkey", "c_nationkey").coalesce(1)
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L)).toDF("s_suppkey", "s_nationkey").coalesce(1)
      .write.parquet(s"$dir/supplier.parquet")
    Seq((10L, 1L)).toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, 1L)).toDF("l_orderkey", "l_suppkey").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("graph_ppr")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(
      ("ALGERIA", 150000000L),
      ("BRAZIL", 127500000L),
      ("CANADA", 0L)), got.toString)
  }

  test("graph_closeness: directed path 0→1→2 — reach sets, WF closeness, eccentricity") {
    // root 0 reaches {0,1,2} at hops {0,1,2}: clo = (2²·1e9)÷(2·3) = 666666666, ecc 2
    // root 1 reaches {1,2}:                   clo = (1·1e9)÷(2·1) = 500000000, ecc 1
    // root 2 reaches only itself:             clo 0, ecc −1
    val got = SparkEntry.queries("graph_closeness")(spark, pathDir())
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("ALGERIA", 3L, 3L, 666666666L, 2L),
      ("BRAZIL", 2L, 1L, 500000000L, 1L),
      ("CANADA", 1L, 0L, 0L, -1L)), got.toString)
  }

  test("graph_sssp: a light two-hop path beats a heavier direct edge; unreachable is -1") {
    // edges (weight = MIN(l_quantity) per nation pair): 0→1 min(2,7) = 2,
    // 1→2 = 3, 0→2 = 10, 3→0 = 1. From 0: d(1) = 2, d(2) = min(10, 2+3)
    // = 5; nation 3 only has an OUT edge, so it is unreachable (-1).
    val dir = Files.createTempDirectory("r10sssp").toString
    Seq((0L, "ALGERIA"), (1L, "BRAZIL"), (2L, "CANADA"), (3L, "DENMARK"))
      .toDF("n_nationkey", "n_name").coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, 0L), (2L, 1L), (3L, 3L)).toDF("c_custkey", "c_nationkey").coalesce(1)
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L), (2L, 2L), (4L, 0L)).toDF("s_suppkey", "s_nationkey").coalesce(1)
      .write.parquet(s"$dir/supplier.parquet")
    Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, 1L, 2.0), (10L, 1L, 7.0), (10L, 2L, 10.0), (20L, 2L, 3.0), (30L, 4L, 1.0))
      .toDF("l_orderkey", "l_suppkey", "l_quantity").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("graph_sssp")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(
      ("DENMARK", -1L),
      ("ALGERIA", 0L),
      ("BRAZIL", 2L),
      ("CANADA", 5L)), got.toString)
  }

  test("graph_betweenness: the middle of a directed path carries the only s→t pair") {
    // 0→1→2: the sole (s,t) pair with an intermediary is (0,2) through
    // node 1 (σ01·σ12/σ02 = 1 → 1e6 micro); endpoints carry nothing.
    val got = SparkEntry.queries("graph_betweenness")(spark, pathDir())
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(
      ("BRAZIL", 1000000L),
      ("ALGERIA", 0L),
      ("CANADA", 0L)), got.toString)
  }
}
