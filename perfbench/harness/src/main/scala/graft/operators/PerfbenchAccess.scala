package graft.operators

import org.apache.spark.sql.SparkSession

/** The harness's way to the package-private IVF centroids, which the
  * refinery workload needs to build its empty index the way
  * `Pipeline.refineryRoot` does.
  */
object PerfbenchAccess {
  def centroids(s: SparkSession, d: String): Array[Array[Float]] = Similarity.centroids(s, d)
}
