package graft.mr

import org.apache.spark.SparkException

/** The opt-in combiner path must be result-identical to the full
  * list-materializing lifecycle, on both execution paths, and must
  * reject sort-element emissions.
  */
object CombinerTasks {
  final class CombWordCount(kp: Boolean) extends MapReduce1[String, String, Int, Long] {
    def mapper(item: String): IterableOnce[Emit[String, Int, Long]] =
      item.toLowerCase.trim.split("\\s+").iterator.map(w => KV(w, 1L))
    def reducer(key: String, values: Seq[Long]): Emit[String, Int, Long] =
      KV(key, values.sum)
    override def keyPreserving: Boolean = kp
    override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
  }

  /** Counts `item % keys`: the Dataset combiner's bounded map-side fold. */
  final class ModCount(keys: Long, mapPar: Int) extends MapReduce1[Long, Long, Int, Long] {
    def mapper(item: Long): IterableOnce[Emit[Long, Int, Long]] =
      Iterator.single(KV(item % keys, 1L))
    def reducer(key: Long, values: Seq[Long]): Emit[Long, Int, Long] =
      KV(key, values.sum)
    override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
    override def mapParallelism: Int = mapPar
  }

  final class BadCombiner extends MapReduce1[Int, Int, Int, Int] {
    def mapper(i: Int): IterableOnce[Emit[Int, Int, Int]] =
      Iterator.single(KSV(i, i, i))
    def reducer(k: Int, vs: Seq[Int]): Emit[Int, Int, Int] = KV(k, vs.sum)
    override def combiner: Option[(Int, Int) => Int] = Some(_ + _)
    override def sortOrdering: Ordering[Int] = Ordering.Int
  }
}

class CombinerSpec extends SparkSpec {
  import CombinerTasks._
  import WordCountTasks.{Oracle, Text}

  for (kp <- Seq(true, false)) {
    test(s"combiner path equals full lifecycle, RDD path (keyPreserving=$kp)") {
      assert(new CombWordCount(kp).runToMap(sc.parallelize(Text, 3)) == Oracle)
    }
    test(s"combiner path equals full lifecycle, Dataset path (keyPreserving=$kp)") {
      import spark.implicits._
      val got = new CombWordCount(kp)
        .runDataset(spark.createDataset(Text).repartition(3)).collect().toMap
      assert(got == Oracle)
    }
  }

  for (mapPar <- Seq(0, 3)) {
    test(s"Dataset combiner: one partition past the map cap counts exactly (mapParallelism=$mapPar)") {
      import spark.implicits._
      // more distinct keys than the cap, each key seen in several
      // flushes of the map-side hash map
      val keys = MapReduceBase.CombineCap + 7L
      val n = 3L * MapReduceBase.CombineCap
      val input = spark.range(0, n, 1, 1).as[Long]
      assert(input.rdd.getNumPartitions == 1)
      val got = new ModCount(keys, mapPar).runDataset(input).collect().toMap
      val want = (0L until n).groupMapReduce(_ % keys)(_ => 1L)(_ + _)
      assert(got.size == keys && got == want)
    }
  }

  test("combiner with sort-element emissions raises ElementCountError") {
    val e = intercept[SparkException] {
      new BadCombiner().runToMap(sc.parallelize(1 to 5, 2))
    }
    var cur: Throwable = e
    var found = false
    while (cur != null && !found) {
      found = cur.isInstanceOf[ElementCountError]; cur = cur.getCause
    }
    assert(found, s"no ElementCountError in $e")
  }
}
