package graft
import org.apache.spark.sql.SparkSession
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    for (name <- Seq("q1_pricing_summary", "q3_revenue_by_nation_year", "q2_top_revenue_customers", "ev_sessions", "ev_sessions_twophase", "doc_exact_dedup", "doc_contamination", "doc_split_stratified", "ev_salted_segment_rollup", "ev_view_attribution", "ev_funnel", "doc_pack_sequences", "q22_bucketed_colocated_join")) {
      println(s"##### PLAN $name")
      SparkEntry.queries(name)(spark, d).explain("formatted")
    }
    // point-lookup pruning evidence on a written zarr store: the filter
    // sits below the zarr_chunk_decode projection
    import graft.volume._
    ZarrStore.write(graft.queries.VolumeQueries.chunked(spark), "/tmp/graft_plans/store")
    val back = ZarrStore.read(spark, "/tmp/graft_plans/store")
    println("##### PLAN point_lookup_filter")
    import org.apache.spark.sql.functions._
    back.chunks.filter(col("z0") <= 7 && lit(7L) < col("z0") + col("nz")
      && col("y0") <= 12 && lit(12L) < col("y0") + col("ny")
      && col("x0") <= 9 && lit(9L) < col("x0") + col("nx")).explain("formatted")
    spark.stop()
  }
}
