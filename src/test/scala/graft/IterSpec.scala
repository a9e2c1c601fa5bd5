package graft

import graft.operators.Iter

/** The engine-wide iterative-checkpoint knob ([[Iter]], r14 VERDICT
  * task 4): conf resolution and loud rejection of unknown storage values
  * and of the retired graph.* name. */
class IterSpec extends SparkSpec {

  private def df = spark.range(3).toDF("id")

  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("storageConf: default when neither knob is set") {
    assert(Iter.storageConf(df) == "default")
  }

  test("checkpoint: the retired graph.* key throws, naming the iter.* key") {
    withConfs("spark.graft.graph.checkpointStorage" -> "disk") {
      val e = intercept[IllegalArgumentException](Iter.checkpoint(df))
      assert(e.getMessage.contains("spark.graft.iter.checkpointStorage"))
    }
    withConfs("spark.graft.iter.checkpointStorage" -> "ser",
      "spark.graft.graph.checkpointStorage" -> "disk") {
      intercept[IllegalArgumentException](Iter.checkpoint(df))
    }
  }

  test("checkpoint: every known mode materializes and preserves rows") {
    for (mode <- Seq("default", "ser", "disk")) {
      withConfs("spark.graft.iter.checkpointStorage" -> mode) {
        assert(Iter.checkpoint(df).count() == 3, s"mode=$mode")
      }
    }
  }

  test("checkpoint: an unknown value throws instead of silently defaulting") {
    withConfs("spark.graft.iter.checkpointStorage" -> "SER") {
      val e = intercept[IllegalArgumentException](Iter.checkpoint(df))
      assert(e.getMessage.contains("spark.graft.iter.checkpointStorage"))
    }
  }

  test("pageRank: checkpointEvery <= 0 or non-numeric is rejected") {
    val s = spark; import s.implicits._
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    withConfs("spark.graft.graph.checkpointEvery" -> "0") {
      intercept[IllegalArgumentException](
        operators.Graph.pageRank(edges, iterations = 2).collect())
    }
    withConfs("spark.graft.graph.checkpointEvery" -> "two") {
      intercept[IllegalArgumentException](
        operators.Graph.pageRank(edges, iterations = 2).collect())
    }
  }

  test("bpeTrain: zero merge rounds is rejected up front") {
    val s = spark; import s.implicits._
    val wc = Seq(("ab", 3L)).toDF("word", "cnt")
    intercept[IllegalArgumentException](
      operators.Tokenizer.bpeTrain(wc, nMerges = 0))
  }
}
