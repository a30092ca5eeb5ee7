package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` builds on the session it is given, and a query's
  * result does not depend on that session's reduce width. The rows are
  * shuffle-heavy pipelines (bigram explodes, chunking, MinHash-LSH
  * band joins), hashed canonically at the suite's 4 shuffle partitions
  * and again at 1.
  */
class SparkEntrySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // the sf0.01 tables (TESTDATA.md): large enough that every row below
  // returns rows
  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.01"

  // its own SQL conf over the shared SparkContext, so the suite's
  // session keeps its width
  private lazy val onePartition = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s
  }

  Seq("t15_lm_score", "t21_lm_buckets", "t35_chunk", "d3_minhash_lsh").foreach { name =>
    test(s"$name builds on the caller's session and hashes equal at 4 and 1 shuffle partitions") {
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(df.sparkSession eq spark, s"$name built on another session")
      val (rows, md5) = ClusterCheck.resultHash(df)
      assert(rows > 0, s"$name returned no rows — the comparison would be vacuous")
      val narrow = SparkEntry.queries(name)(onePartition, sfDir)
      assert(narrow.sparkSession eq onePartition)
      assert(ClusterCheck.resultHash(narrow) == ((rows, md5)),
        s"$name differs between 4 and 1 shuffle partitions")
    }
  }
}
