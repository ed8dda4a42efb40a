package graft.mr

import org.apache.spark.SparkException

/** Lifecycle semantics: second shuffle on reducer-emitted keys (S5),
  * return-mode first-wins collapse (S2, tinymr.py:222-227), keyPreserving
  * elision equivalence, and the untyped adapter's ElementCountError
  * contract (/root/reference/tests/test_exceptions.py).
  */
object LifecycleTasks {

  /** Reducer re-keys by value parity — exercises shuffle #2 regrouping
    * under keys the mapper never emitted.
    */
  final class RekeyByParity extends MapReduce[Int, String, Int, Int] {
    def mapper(item: Int): IterableOnce[Emit[String, Int, Int]] =
      Iterator.single(KV(if (item < 100) "small" else "big", item))
    def reducer(key: String, values: Seq[Int]): IterableOnce[Emit[String, Int, Int]] =
      values.iterator.map(v => KV(if (v % 2 == 0) "even" else "odd", v))
    override def sortReduceWithValue: Boolean = true
    override def valueOrdering: Ordering[Int] = Ordering.Int
  }

  /** Return-mode reducers colliding on one output key: S2 keeps the
    * first value post-sort.
    */
  final class FirstWins(rev: Boolean) extends MapReduce1[Int, String, Int, Int] {
    def mapper(item: Int): IterableOnce[Emit[String, Int, Int]] =
      Iterator.single(KV(s"k$item", item))
    def reducer(key: String, values: Seq[Int]): Emit[String, Int, Int] =
      KV("collide", values.head)
    override def sortReduceWithValue: Boolean = true
    override def sortReduceReverse: Boolean = rev
    override def valueOrdering: Ordering[Int] = Ordering.Int
  }

  final class SumTask(kp: Boolean) extends MapReduce1[Int, Int, Int, Long] {
    override def keyPreserving: Boolean = kp
    def mapper(item: Int): IterableOnce[Emit[Int, Int, Long]] =
      Iterator.single(KV(item % 5, item.toLong))
    def reducer(key: Int, values: Seq[Long]): Emit[Int, Int, Long] =
      KV(key, values.sum)
  }

  /** Re-emits every value under a new key, so each crosses both
    * shuffles as a bare `(key, value)` record.
    */
  final class EchoValues extends MapReduce[Any, Int, Int, Any] {
    override def numPartitions: Int = 1
    def mapper(item: Any): IterableOnce[Emit[Int, Int, Any]] =
      Iterator.single(KV(0, item))
    def reducer(key: Int, values: Seq[Any]): IterableOnce[Emit[Int, Int, Any]] =
      values.iterator.map(v => KV(1, v))
  }

  final class UntypedWordCount extends UntypedMapReduce[String] {
    def untypedMapper(item: String): IterableOnce[Product] =
      item.toLowerCase.split("\\s+").iterator.map(w => (w, 1))
    def untypedReducer(key: Any, values: Seq[Any]): IterableOnce[Product] =
      Iterator.single((key, values.map(_.asInstanceOf[Int]).sum))
  }

  final class BadArityMapper(arity: Int) extends UntypedMapReduce[String] {
    def untypedMapper(item: String): IterableOnce[Product] =
      Iterator.single(if (arity == 1) Tuple1(item) else (item, 1, 2, 3))
    def untypedReducer(key: Any, values: Seq[Any]): IterableOnce[Product] =
      Iterator.single((key, values.size))
  }

  final class BadArityReducer(arity: Int) extends UntypedMapReduce[String] {
    def untypedMapper(item: String): IterableOnce[Product] =
      Iterator.single((item, 1))
    def untypedReducer(key: Any, values: Seq[Any]): IterableOnce[Product] =
      Iterator.single(if (arity == 1) Tuple1(key) else (key, 1, 2, 3))
  }

  /** First record well-formed, second malformed: the reference validates
    * only the partition-stream head (tinymr.py:302-308), so this must
    * surface as the lenient error, NOT ElementCountError.
    */
  final class BadArityAfterHead extends UntypedMapReduce[String] {
    def untypedMapper(item: String): IterableOnce[Product] =
      Iterator((item, 1), Tuple1(item))
    def untypedReducer(key: Any, values: Seq[Any]): IterableOnce[Product] =
      Iterator.single((key, values.size))
  }
}

class LifecycleSpec extends SparkSpec {
  import LifecycleTasks._

  test("shuffle #2 regroups by reducer-emitted keys (S5)") {
    val got = new RekeyByParity().runToMap(sc.parallelize(1 to 10 map (_ * 7), 3))
    assert(got.keySet == Set("even", "odd"))
    assert(got("even") == Seq(14, 28, 42, 56, 70))
    assert(got("odd") == Seq(7, 21, 35, 49, 63))
  }

  test("return-mode key collision keeps first value post-sort (S2) — asc") {
    val got = new FirstWins(rev = false).runToMap(sc.parallelize(Seq(5, 3, 9), 2))
    assert(got == Map("collide" -> 3))
  }

  test("return-mode key collision keeps first value post-sort (S2) — desc") {
    val got = new FirstWins(rev = true).runToMap(sc.parallelize(Seq(5, 3, 9), 2))
    assert(got == Map("collide" -> 9))
  }

  test("per-invocation parallelism (reference `map=`) sizes BOTH shuffles for one run") {
    // the reference's __call__(sequence, map=p) defaults mapper_map AND
    // reducer_map from one value (tinymr.py:156-173) — here one call-site
    // int pins both shuffle widths without touching the task's overrides
    val task = new RekeyByParity()
    val data = sc.parallelize(1 to 10 map (_ * 7), 3)
    val out = task.run(data, 5)
    assert(out.getNumPartitions == 5)
    assert(task.runToMap(data, 5) == task.runToMap(data))
  }

  test("per-invocation two-arg form = passing mapper_map and reducer_map separately") {
    val task = new RekeyByParity()
    val data = sc.parallelize(1 to 10 map (_ * 7), 3)
    val out = task.run(data, 7, 2)
    assert(out.getNumPartitions == 2) // reduce shuffle width wins the output
    assert(out.collect().toMap == task.runToMap(data))
  }

  test("per-invocation parallelism does not mutate the task's own configuration") {
    val task = new RekeyByParity()
    val data = sc.parallelize(1 to 10 map (_ * 7), 3)
    task.run(data, 5).count()
    assert(task.mapParallelism == 0 && task.reduceParallelism == 0)
    // a later default run still uses the Spark-default widths
    assert(task.runToMap(data) == task.runToMap(data, 5))
  }

  test("KV values shaped like options, tuples or null cross both shuffles unchanged") {
    // the RDD path shuffles a KV value bare, so nothing about the value
    // may be read as a sort element
    val values: Seq[Any] = Seq(None, Some(1), Some(None), (None, 2),
      (Some(3), "x"), null, Some(null), (1, 2, 3), "plain")
    val got = new EchoValues().runToMap(sc.parallelize(values, 1))
    assert(got == Map(1 -> values.toList))
  }

  test("version surface mirrors the reference packaging contract") {
    // tinymr.__version__: package metadata when installed, '0.0' for the
    // single-file-copy case (tinymr.py:16-24, test_packaging.py:6-13).
    // Tests run from unpacked classes = the un-installed case.
    val manifest = Option(classOf[graft.BuildInfo.type].getPackage)
      .flatMap(p => Option(p.getImplementationVersion))
    assert(graft.BuildInfo.version == manifest.getOrElse("0.0"))
    assert(graft.BuildInfo.version.nonEmpty)
  }

  test("keyPreserving elision produces identical results to the full lifecycle") {
    val data = sc.parallelize(1 to 1000, 8)
    assert(new SumTask(kp = true).runToMap(data) == new SumTask(kp = false).runToMap(data))
  }

  test("untyped adapter: well-formed 2-tuples work end-to-end") {
    val got = new UntypedWordCount().runToMap(sc.parallelize(WordCountTasks.Text, 2))
    val expect = WordCountTasks.Oracle.map { case (k, v) => (k: Any, List(v.toInt: Any)) }
    assert(got == expect)
  }

  for (arity <- Seq(1, 4)) {
    test(s"untyped adapter: mapper $arity-tuple raises ElementCountError") {
      val e = intercept[SparkException] {
        new BadArityMapper(arity).runToMap(sc.parallelize(Seq("x"), 1))
      }
      assert(findCause[ElementCountError](e), s"no ElementCountError in: $e")
    }
    test(s"untyped adapter: reducer $arity-tuple raises ElementCountError") {
      val e = intercept[SparkException] {
        new BadArityReducer(arity).runToMap(sc.parallelize(Seq("x"), 1))
      }
      assert(findCause[ElementCountError](e), s"no ElementCountError in: $e")
    }
  }

  test("untyped adapter: bad arity AFTER the stream head raises the lenient error") {
    val e = intercept[SparkException] {
      new BadArityAfterHead().runToMap(sc.parallelize(Seq("x"), 1))
    }
    assert(!findCause[ElementCountError](e),
      s"post-head record must not be arity-validated (tinymr.py:302-308): $e")
    assert(findCause[IllegalArgumentException](e), s"no lenient error in: $e")
  }

  private def findCause[T <: Throwable](t: Throwable)(implicit ct: scala.reflect.ClassTag[T]): Boolean = {
    var cur: Throwable = t
    while (cur != null) {
      if (ct.runtimeClass.isInstance(cur)) return true
      cur = cur.getCause
    }
    false
  }
}
