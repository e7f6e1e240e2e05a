package graft.operators

import graft.{SparkEntry, SparkSuite}

/** Registry queries that persist intermediates must release them before
  * returning: a pipeline invoking a query repeatedly (as
  * q_sim_ivfpq_recall composes q_sim_ivfpq) must not accumulate
  * executor storage across invocations. */
class CacheHygieneSpec extends SparkSuite(4) {

  private val sf = "/root/testdata/sf0.001"

  test("q_sim_ivfpq leaves no persisted RDDs behind") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    // drive the BUILD directly, twice — the registry entry memoizes its
    // result per session, so invoking the query twice would compare the
    // memo to itself and never exercise repeat-build hygiene
    val r1 = Similarity.ivfpqBuild(spark, sf).count()
    val r2 = Similarity.ivfpqBuild(spark, sf).count()
    r1 shouldBe r2
    spark.sparkContext.getPersistentRDDs shouldBe empty
  }

  test("graph queries release working caches; only the shared edge store stays") {
    assume(new java.io.File(s"$sf/lineitem.parquet").exists)
    // The pack keeps THREE session-lifetime stage stores (the
    // co-purchase edge list, shared by triangles/BFS/LPA/links/k-core;
    // its directed both-direction expansion, shared by BFS/LPA/links;
    // and the trade-edge list, shared by pagerank/PPR/SSSP) — so at
    // most three persisted RDDs may remain, and the set may only ever
    // hold those same three across queries: growth means a per-query
    // working cache (degrees, adjacency, frontiers, node flags) leaked.
    var seen: Set[Int] = Set.empty
    Seq("q_graph_pagerank", "q_graph_ppr", "q_graph_sssp",
      "q_graph_triangles", "q_graph_triangles_capped", "q_graph_bfs",
      "q_graph_hits", "q_graph_kcore",
      "q_graph_label_prop", "q_graph_jaccard_links")
      .foreach { q =>
        withClue(q) {
          SparkEntry.queries(q)(spark, sf).count() should be >= 0L
          val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
          persisted.size should be <= 3
          seen ++= persisted
          seen.size should be <= 3
        }
      }
  }
}
