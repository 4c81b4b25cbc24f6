package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Focused re-measure of the `search_relations_detect` ScaleStress row
  * (round 18): the full sweep takes ~25 min, which does not fit inside
  * this host's short clean windows — the round-18 sweep read the row
  * 9.6× INSIDE a fault-path window (its 10× leg is a full edge-table
  * scan, the shape first-touch collapse hits superlinearly) against
  * r17's quiet 1.4×, so the constant needs a reading the sweep can't
  * reliably produce. This builds ONLY the 1×/10× relation indexes
  * (same recipe as ScaleStress section 3) and times the detect →
  * subgraph composition with the same host-factor stamping, ~3 min
  * end to end — launch it on a `host-probe` GO and the whole
  * measurement fits the window that approved it.
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.StressDetect"`
  * (the session is [[graft.Run.session]]).
  */
object StressDetect {

  import Timing.med3

  def main(args: Array[String]): Unit = {
    val spark = graft.Run.session()
    val sf = "/root/testdata/sf0.1"
    val out = graft.sources.IndexStore.deleteOnExit(
      java.nio.file.Files.createTempDirectory("graft-detect-").toString)

    val stamp = new graft.HostCanary.Stamper(spark)

    // ScaleStress section-3 recipe: lineitem edges, replicas key-offset
    // so the 10× table is ten disjoint graph copies
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_suppkey", "l_partkey", "l_returnflag", "l_orderkey")
    def edgesOf(d: DataFrame) = d.select(
      concat(lit("S"), col("l_suppkey").cast("string")).as("src"),
      concat(lit("R"), col("l_returnflag")).as("rel"),
      concat(lit("P"), col("l_partkey").cast("string")).as("dst"),
      col("l_orderkey").as("res"))
    val repDf = spark.range(10).select(col("id").cast("int").as("rep"))
    val li10 = li.crossJoin(repDf).select(
      (col("l_suppkey") + col("rep") * 1000000L).as("l_suppkey"),
      (col("l_partkey") + col("rep") * 1000000L).as("l_partkey"),
      col("l_returnflag"),
      (col("l_orderkey") + col("rep") * 100000000L).as("l_orderkey"))
    graft.sources.Ingest.relationIndex(edgesOf(li), "src", "rel", "dst",
      s"$out/rel1", resourceCol = Some("res"))
    graft.sources.Ingest.relationIndex(edgesOf(li10), "src", "rel", "dst",
      s"$out/rel10", resourceCol = Some("res"))
    println(s"[detect] indexes built ${stamp.mark()}")

    // ScaleStress section-3h: Engine.searchRelations' two legs — fuzzy
    // entity detect (edge-linear by contract) then the q182 subgraph
    import graft.api.GraphSearch
    def searchRels(dir: String): Long = {
      val t = GraphSearch.EdgeTable(spark.read.parquet(s"$dir/edges"),
        "src", "rel", "dst")
      val eps = graft.api.GraphRag.queryEntities(t, "s1 p50")
        .collect().map(r => GraphSearch.EntryPoint(r.getString(0)))
      GraphSearch.relationsSubgraph(t, eps.toSeq, topK = 1000).count()
    }
    val (t1, _) = med3(searchRels(s"$out/rel1"))
    val h1 = stamp.mark()
    val (t10, _) = med3(searchRels(s"$out/rel10"))
    println(f"[detect] search_relations_detect 1x $t1%.2fs ($h1) " +
      f"10x $t10%.2fs growth ${t10 / t1}%.1fx ${stamp.mark()}")
    spark.stop()
  }
}
