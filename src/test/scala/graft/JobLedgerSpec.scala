package graft

class JobLedgerSpec extends SparkSpec {

  test("the ledger counts a tagged body's jobs as withJobCount does, " +
      "each tag apart") {
    val sc = spark.sparkContext
    val ledger = JobLedger.register(sc)
    try {
      val (_, nA) = withJobCount(JobLedger.tagged(sc, "ledger-spec:a") {
        spark.range(0, 10).collect()
        spark.range(0, 20).collect()
      })
      val (_, nB) = withJobCount(JobLedger.tagged(sc, "ledger-spec:b") {
        spark.range(0, 1000, 1, 4).repartition(3).count()
      })
      val counts = ledger.read()
      assert(nA >= 2 && nB >= 1, (nA, nB))
      assert(counts("ledger-spec:a").jobs == nA)
      assert(counts("ledger-spec:b").jobs == nB)
      // only b shuffles
      assert(counts("ledger-spec:a").shuffleWriteBytes == 0)
      assert(counts("ledger-spec:b").shuffleWriteBytes > 0)
      assert(counts("ledger-spec:b").shuffleReadBytes > 0)
    } finally sc.removeSparkListener(ledger)
  }
}
