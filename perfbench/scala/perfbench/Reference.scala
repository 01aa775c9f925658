package perfbench

import org.apache.spark.sql.SparkSession

/** A fixed probe of how fast this host runs Spark work right now: eight
  * jobs of four tasks, each task hashing boxed longs into a map and
  * running an integer loop. It runs no program code and no SQL, so no
  * change to the program moves it; a slow spell of a shared host moves
  * it as much as the workloads. */
object Reference {
  private def task(seed: Int): Long = {
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var s = seed.toLong
    var i = 0
    while (i < 60000) {
      s = s * 6364136223846793005L + 1442695040888963407L
      m.merge(s >>> 48, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
      i += 1
    }
    var j = 0
    while (j < 3000000) { s = s * 6364136223846793005L + 1442695040888963407L; j += 1 }
    s + m.size
  }

  /** Seconds one probe takes. */
  def probe(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    var k = 0
    while (k < 8) {
      sc.parallelize(0 until 4, 4).map(task).collect()
      k += 1
    }
    (System.nanoTime() - t0) / 1e9
  }
}
