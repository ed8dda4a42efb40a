package graft.mr

import scala.util.Random

/** Port of /root/reference/tests/test_mapreduce_sorting.py — the S6
  * sort-selection matrix and S7 reverse flag, in the deterministic
  * single-partition mode (1 input slice, numPartitions=1) because the
  * reference's arrival-order assertions only hold under serial
  * execution there too.
  */
object SortingTasks {

  /** sort by VALUE in the map phase (test_sort_mapper_value):
    * 2-tuple emissions + sortMapWithValue.
    */
  final class SortMapValue(rev: Boolean) extends MapReduce[Int, Int, Int, Int] {
    override def numPartitions: Int = 1
    override def sortMapWithValue: Boolean = true
    override def sortMapReverse: Boolean = rev
    override def valueOrdering: Ordering[Int] = Ordering.Int
    def mapper(item: Int): IterableOnce[Emit[Int, Int, Int]] =
      Iterator.single(KV(0, item))
    def reducer(key: Int, values: Seq[Int]): IterableOnce[Emit[Int, Int, Int]] =
      values.iterator.map(v => KV(key, v))
  }

  /** sort by VALUE in the reduce phase (test_sort_reducer_value): the
    * reducer must see ARRIVAL order (asserted, like the reference's
    * in-operator assertion), its emissions get sorted.
    */
  final class SortReduceValue(data: Seq[Int], rev: Boolean)
      extends MapReduce[Int, Int, Int, Int] {
    override def numPartitions: Int = 1
    override def sortReduceWithValue: Boolean = true
    override def sortReduceReverse: Boolean = rev
    override def valueOrdering: Ordering[Int] = Ordering.Int
    def mapper(item: Int): IterableOnce[Emit[Int, Int, Int]] =
      Iterator.single(KV(0, item))
    def reducer(key: Int, values: Seq[Int]): IterableOnce[Emit[Int, Int, Int]] = {
      assert(values == data, s"Data has been sorted! $values")
      values.iterator.map(v => KV(key, v))
    }
  }

  /** sort by SORT ELEMENT in the map phase (test_mapper_sort_element):
    * 3-tuple emissions, no withValue.
    */
  final class SortMapElement(rev: Boolean)
      extends MapReduce[(Int, String), Int, Int, String] {
    override def numPartitions: Int = 1
    override def sortMapReverse: Boolean = rev
    override def sortOrdering: Ordering[Int] = Ordering.Int
    def mapper(item: (Int, String)): IterableOnce[Emit[Int, Int, String]] =
      Iterator.single(KSV(0, item._1, item._2))
    def reducer(key: Int, values: Seq[String]): IterableOnce[Emit[Int, Int, String]] =
      values.iterator.map(v => KV(key, v))
  }

  /** sort element in the REDUCE phase (test_reducer_sort_element):
    * reducer sees arrival order, re-emits 3-tuples, shuffle #2 sorts.
    */
  final class SortReduceElement(data: Seq[(Int, String)], rev: Boolean)
      extends MapReduce[(Int, String), Int, Int, (Int, String)] {
    override def numPartitions: Int = 1
    override def sortReduceReverse: Boolean = rev
    override def sortOrdering: Ordering[Int] = Ordering.Int
    def mapper(item: (Int, String)): IterableOnce[Emit[Int, Int, (Int, String)]] =
      Iterator.single(KV(0, item))
    def reducer(key: Int, values: Seq[(Int, String)]): IterableOnce[Emit[Int, Int, (Int, String)]] = {
      assert(values == data, s"Data has been sorted! $values")
      values.iterator.map { case (idx, letter) => KSV(key, idx, (idx, letter)) }
    }
  }

  /** composite (year, month) sort key in BOTH phases + withValue
    * (test_complex_sort).
    */
  final class ComplexSort(expected: Seq[Int], rev: Boolean)
      extends MapReduce[(Int, Int, Int), Int, (Int, Int), Int] {
    override def numPartitions: Int = 1
    override def sortMapWithValue: Boolean = true
    override def sortReduceWithValue: Boolean = true
    override def sortMapReverse: Boolean = rev
    override def sortReduceReverse: Boolean = rev
    override def sortOrdering: Ordering[(Int, Int)] =
      Ordering.Tuple2(Ordering.Int, Ordering.Int)
    override def valueOrdering: Ordering[Int] = Ordering.Int
    private val dayYm = Map(7 -> (2018, 11), 21 -> (2018, 12), 2 -> (2019, 1), 25 -> (2019, 2))
    def mapper(item: (Int, Int, Int)): IterableOnce[Emit[Int, (Int, Int), Int]] =
      Iterator.single(KSV(0, (item._1, item._2), item._3))
    def reducer(key: Int, values: Seq[Int]): IterableOnce[Emit[Int, (Int, Int), Int]] = {
      assert(values == expected, s"map-phase sort wrong: $values")
      values.iterator.map(day => KSV(0, dayYm(day), day))
    }
  }
}

object PayloadTasks {

  /** Sort elements over values shaped like the engine's old envelope:
    * the map phase sorts by index, the reducer re-emits each value with
    * a descending sort element, and shuffle #2 sorts by that.
    */
  final class SortedOddValues extends MapReduce[(Int, Any), Int, Int, Any] {
    override def numPartitions: Int = 1
    override def sortOrdering: Ordering[Int] = Ordering.Int
    def mapper(item: (Int, Any)): IterableOnce[Emit[Int, Int, Any]] =
      Iterator.single(KSV(0, item._1, item._2))
    def reducer(key: Int, values: Seq[Any]): IterableOnce[Emit[Int, Int, Any]] =
      values.iterator.zipWithIndex.map { case (v, i) => KSV(1, -i, v) }
  }

  /** Mixes `(key, value)` and `(key, sort, value)` under one key, in the
    * map phase or in the reduce phase.
    */
  final class MixedArity(inReducer: Boolean) extends MapReduce[Int, Int, Int, Int] {
    override def numPartitions: Int = 1
    override def sortOrdering: Ordering[Int] = Ordering.Int
    def mapper(i: Int): IterableOnce[Emit[Int, Int, Int]] =
      Iterator.single(if (!inReducer && i % 2 == 0) KSV(0, i, i) else KV(0, i))
    def reducer(key: Int, values: Seq[Int]): IterableOnce[Emit[Int, Int, Int]] =
      values.iterator.map(v => if (inReducer && v % 2 == 0) KSV(1, v, v) else KV(1, v))
  }
}

class SortingSpec extends SparkSpec {
  import SortingTasks._

  val plain = Seq(2, 3, 1)
  val pairs = Seq((3, "a"), (2, "b"), (1, "c"))
  val dates = Seq((2018, 11, 7), (2018, 12, 21), (2019, 1, 2), (2019, 2, 25))

  for (rev <- Seq(false, true)) {
    val dir = if (rev) "desc" else "asc"

    test(s"sort by value, map phase, $dir") {
      val expected = if (rev) plain.sorted.reverse else plain.sorted
      val got = new SortMapValue(rev).runToMap(sc.parallelize(plain, 1))
      assert(got(0) == expected)
    }

    test(s"sort by value, reduce phase, $dir (reducer sees arrival order)") {
      val expected = if (rev) plain.sorted.reverse else plain.sorted
      val got = new SortReduceValue(plain, rev).runToMap(sc.parallelize(plain, 1))
      assert(got(0) == expected)
    }

    test(s"sort element, map phase, $dir") {
      val expected = (if (rev) pairs.sortBy(_._1).reverse else pairs.sortBy(_._1)).map(_._2)
      val got = new SortMapElement(rev).runToMap(sc.parallelize(pairs, 1))
      assert(got(0) == expected)
    }

    test(s"sort element, reduce phase, $dir (reducer sees arrival order)") {
      val exp = if (rev) pairs.sortBy(_._1).reverse else pairs.sortBy(_._1)
      val got = new SortReduceElement(pairs, rev).runToMap(sc.parallelize(pairs, 1))
      assert(got(0) == exp)
    }

    test(s"composite (year, month) sort key, both phases, $dir") {
      val sortedDays =
        (if (rev) dates.sortBy(t => (t._1, t._2)).reverse else dates.sortBy(t => (t._1, t._2))).map(_._3)
      val shuffled = new Random(7).shuffle(dates)
      val got = new ComplexSort(sortedDays, rev).runToMap(sc.parallelize(shuffled, 1))
      assert(got(0) == sortedDays)
    }
  }

  test("sorted values shaped like options, tuples or null survive both shuffles") {
    val values: Seq[Any] = Seq(None, Some(1), null, (Some(2), "y"), Some(None))
    val shuffled = new Random(3).shuffle(values.zipWithIndex.map(_.swap))
    val got = new PayloadTasks.SortedOddValues().runToMap(sc.parallelize(shuffled, 1))
    assert(got == Map(1 -> values.reverse.toList))
  }

  for (inReducer <- Seq(false, true)) {
    val phase = if (inReducer) "reduce" else "map"
    test(s"mixed (key, value) and (key, sort, value) under one key raise ElementCountError ($phase phase)") {
      val e = intercept[org.apache.spark.SparkException] {
        new PayloadTasks.MixedArity(inReducer).runToMap(sc.parallelize(1 to 6, 1))
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ElementCountError]), s"no ElementCountError in: $e")
    }
  }
}
