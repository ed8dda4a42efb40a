package graft.mr

/** The Dataset (Tungsten) execution path must agree exactly with the RDD
  * path on the same tasks — both reducer shapes, with and without the
  * keyPreserving elision, and under secondary sort.
  */
class DatasetPathSpec extends SparkSpec {
  import WordCountTasks._

  for (kp <- Seq(true, false)) {
    test(s"yield-mode wordcount: Dataset path == RDD path (keyPreserving=$kp)") {
      import spark.implicits._
      val task = new YieldYield(0, kp)
      val viaRdd = task.runToMap(sc.parallelize(Text, 3))
      val viaDs = task.runDataset(spark.createDataset(Text).repartition(3))
        .collect().toMap
      assert(viaDs.view.mapValues(_.toList).toMap == viaRdd)
    }

    test(s"return-mode wordcount: Dataset path == RDD path (keyPreserving=$kp)") {
      import spark.implicits._
      val task = new YieldReturn(0, kp)
      val viaRdd = task.runToMap(sc.parallelize(Text, 3))
      val viaDs = task.runDataset(spark.createDataset(Text).repartition(3))
        .collect().toMap
      assert(viaDs == viaRdd)
    }
  }

  test("Dataset path honors the secondary-sort matrix") {
    import spark.implicits._
    val data = Seq(2, 3, 1)
    val task = new SortingTasks.SortMapValue(false)
    val got = task.runDataset(spark.createDataset(data).coalesce(1))
      .collect().toMap
    assert(got(0) == Seq(1, 2, 3))
  }

  test("Dataset path honors the parallelism knobs and stays result-identical") {
    import spark.implicits._
    val knobbed = new HookTasks.AsymmetricSum(mapPar = 5, redPar = 3)
    val plain = new HookTasks.AsymmetricSum(mapPar = 0, redPar = 0)
    val input = spark.createDataset(1 to 1000).repartition(8)
    val out = knobbed.runDataset(input)
    // shuffle #2 width is pinned by reduceParallelism, not the session conf
    assert(out.rdd.getNumPartitions == 3, s"got ${out.rdd.getNumPartitions}")
    val got = out.collect().toMap.view.mapValues(_.toSet).toMap
    val ref = plain.runDataset(input).collect().toMap.view.mapValues(_.toSet).toMap
    assert(got == ref)
  }

  test("sized Dataset path groups NaN keys like the groupByKey path") {
    import spark.implicits._
    // NaN != NaN under primitive ==, so adjacent-grouping must use
    // compare-equality or every NaN group silently splits
    def task(par: Int) = new MapReduce1[Double, Double, Int, Long] {
      def mapper(item: Double): IterableOnce[Emit[Double, Int, Long]] =
        Iterator.single(KV(item, 1L))
      def reducer(key: Double, values: Seq[Long]): Emit[Double, Int, Long] =
        KV(key, values.sum)
      override def mapParallelism: Int = par
    }
    val input = spark.createDataset(
      Seq(Double.NaN, 1.5, Double.NaN, 1.5, Double.NaN)).repartition(3)
    // compare on canonical bit patterns: Scala == on boxed NaN keys is
    // false (numeric equality), so a Map[Double, _] can't assert itself
    def collect(par: Int): Map[Long, Long] =
      task(par).runDataset(input).collect()
        .map { case (k, v) => java.lang.Double.doubleToLongBits(k) -> v }.toMap
    val sized = collect(3)
    assert(sized == collect(0))
    assert(sized(java.lang.Double.doubleToLongBits(Double.NaN)) == 3L)
    assert(sized(java.lang.Double.doubleToLongBits(1.5)) == 2L)
  }

  test("sized Dataset path groups array-typed keys like the groupByKey path") {
    import spark.implicits._
    // JVM == on arrays is reference equality: without element-wise
    // comparison the sized path splits every array-key group into
    // singletons even though the sort placed them adjacent
    def task(par: Int) = new MapReduce1[Int, Array[Int], Int, Long] {
      def mapper(item: Int): IterableOnce[Emit[Array[Int], Int, Long]] =
        Iterator.single(KV(Array(item % 2, item % 3), 1L))
      def reducer(key: Array[Int], values: Seq[Long]): Emit[Array[Int], Int, Long] =
        KV(key, values.sum)
      override def mapParallelism: Int = par
    }
    val input = spark.createDataset(1 to 60).repartition(4)
    def collect(par: Int): Map[List[Int], Long] =
      task(par).runDataset(input).collect()
        .map { case (k, v) => k.toList -> v }.toMap
    val sized = collect(3)
    assert(sized == collect(0))
    assert(sized.values.sum == 60L && sized.size == 6)
  }

  test("Dataset combiner groups NaN and array keys like the non-combiner path") {
    import spark.implicits._
    def nanTask(comb: Boolean, par: Int) = new MapReduce1[Double, Double, Int, Long] {
      def mapper(item: Double): IterableOnce[Emit[Double, Int, Long]] =
        Iterator.single(KV(item, 1L))
      def reducer(key: Double, values: Seq[Long]): Emit[Double, Int, Long] =
        KV(key, values.sum)
      override def combiner: Option[(Long, Long) => Long] =
        if (comb) Some(_ + _) else None
      override def mapParallelism: Int = par
    }
    def arrayTask(comb: Boolean, par: Int) = new MapReduce1[Int, Array[Int], Int, Long] {
      def mapper(item: Int): IterableOnce[Emit[Array[Int], Int, Long]] =
        Iterator.single(KV(Array(item % 2, item % 3), 1L))
      def reducer(key: Array[Int], values: Seq[Long]): Emit[Array[Int], Int, Long] =
        KV(key, values.sum)
      override def combiner: Option[(Long, Long) => Long] =
        if (comb) Some(_ + _) else None
      override def mapParallelism: Int = par
    }
    val nans = spark.createDataset(
      Seq(Double.NaN, 1.5, Double.NaN, 1.5, Double.NaN, Double.NaN)).repartition(3)
    val ints = spark.createDataset(1 to 60).repartition(4)
    def nanCounts(comb: Boolean, par: Int): Map[Long, Long] =
      nanTask(comb, par).runDataset(nans).collect()
        .map { case (k, v) => java.lang.Double.doubleToLongBits(k) -> v }.toMap
    def arrayCounts(comb: Boolean, par: Int): Map[List[Int], Long] =
      arrayTask(comb, par).runDataset(ints).collect()
        .map { case (k, v) => k.toList -> v }.toMap
    val nanRef = nanCounts(comb = false, 0)
    val arrayRef = arrayCounts(comb = false, 0)
    assert(nanRef(java.lang.Double.doubleToLongBits(Double.NaN)) == 4L)
    assert(arrayRef.size == 6 && arrayRef.values.sum == 60L)
    for (par <- Seq(0, 3)) {
      assert(nanCounts(comb = true, par) == nanRef, s"NaN keys, mapParallelism=$par")
      assert(arrayCounts(comb = true, par) == arrayRef, s"array keys, mapParallelism=$par")
    }
  }

  test("Dataset combiner path honors mapParallelism and stays result-identical") {
    import spark.implicits._
    import WordCountTasks.{Oracle, Text}
    val task = new MapReduce1[String, String, Int, Long] {
      def mapper(item: String): IterableOnce[Emit[String, Int, Long]] =
        item.toLowerCase.trim.split("\\s+").iterator.map(w => KV(w, 1L))
      def reducer(key: String, values: Seq[Long]): Emit[String, Int, Long] =
        KV(key, values.sum)
      override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
      override def mapParallelism: Int = 5
    }
    val got = task.runDataset(spark.createDataset(Text).repartition(3))
      .collect().toMap
    assert(got == Oracle)
  }
}
