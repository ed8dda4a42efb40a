package graft.mr

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col

import scala.collection.mutable
import scala.reflect.ClassTag

/** Emitted record ADT.
  *
  * The reference (geowurster/mr-python, `tinymr.py:53-56`) distinguishes
  * 2-tuples `(key, value)` from 3-tuples `(key, sort, value)` by runtime
  * arity sniffing ("schema-by-arity", tinymr.py:310-311). Scala tuples are
  * statically sized, so the arity becomes an ADT: [[KV]] carries no sort
  * element, [[KSV]] does. Malformed arities are a compile error in this
  * typed API (the reference's `ElementCountError`, tinymr.py:273-275,
  * survives only in the untyped [[UntypedMapReduce]] adapter).
  */
sealed trait Emit[+K, +S, +V] extends Serializable {
  def key: K
  def sortOpt: Option[S]
  def value: V
}

/** `(key, value)` — reference tinymr.py:53-54. */
final case class KV[+K, +V](key: K, value: V) extends Emit[K, Nothing, V] {
  def sortOpt: Option[Nothing] = None
}

/** `(key, sort, value)` — reference tinymr.py:55-56; presence of the sort
  * element is the signal that in-partition sorting is wanted.
  */
final case class KSV[+K, +S, +V](key: K, sort: S, value: V) extends Emit[K, S, V] {
  def sortOpt: Option[S] = Some(sort)
}

/** Raised by the untyped adapter on bad record arity — mirrors the
  * reference's `ElementCountError` (tinymr.py:273-275, raised at
  * tinymr.py:305-308, tested at tests/test_exceptions.py:6-35).
  */
class ElementCountError(msg: String) extends RuntimeException(msg)

/** RDD-path shuffle payload of a [[KSV]] emission. A [[KV]] emission
  * shuffles its bare value, so a payload is sort-carrying iff it is an
  * instance of this class; user code cannot construct one, so no user
  * value (`None`, `Some(_)`, a tuple, `null`) is ever mistaken for it.
  */
private[mr] final class SortedValue(val sort: Any, val value: Any) extends Serializable

/** Shared machinery for the two reducer shapes.
  *
  * Semantics ported from `/root/reference/tinymr.py` (`MapReduce.__call__`,
  * lines 156-230) re-expressed on Spark's distributed shuffle:
  *
  *  - mapper flatMap (tinymr.py:194-199)        -> `RDD.flatMap`
  *  - shuffle #1 + secondary sort (tinymr.py:278-345) -> `groupByKey` +
  *    in-group stable sort (Timsort both here and in the reference,
  *    tinymr.py:339)
  *  - reduce (tinymr.py:207-215)                -> per-group function
  *  - shuffle #2 on the reducer's own emitted keys (tinymr.py:217-221)
  *    -> second `groupByKey`, elided when [[keyPreserving]] (the
  *    word-count shape: reducer re-emits the key it received)
  *
  * Sort-key selection matrix (reference docs.rst:300-307, impl
  * tinymr.py:310-330): 2-tuple + `withValue` -> sort by value; 3-tuple
  * alone -> by sort element; 3-tuple + `withValue` -> by (sort, value);
  * 2-tuple alone -> no sort. `reverse` flags sort descending
  * (tinymr.py:126-154). Sorts are stable; ties keep arrival order — but
  * distributed arrival order across input partitions is nondeterministic
  * (documented divergence from the reference's deterministic single-thread
  * mode; its own 288-case pool matrix is equally nondeterministic).
  *
  * This core intentionally runs on RDDs: mapper/reducer values are opaque
  * user objects (reference tinymr.py:73-76 — "values are never inspected")
  * with no Catalyst-visible schema, which is exactly the "genuine
  * per-partition imperative logic" case. All *analytic* operators live in
  * the DataFrame layer (`graft.operators`) where Catalyst can optimize.
  *
  * Shuffle payload (RDD path): a [[KV]] emission shuffles as the bare
  * pair `(key, value)`; only a [[KSV]] emission wraps its value, as
  * `(key, SortedValue(sort, value))`. The common unsorted record thus
  * pays no envelope in Java serialization, and [[sortValues]] tells the
  * two arities apart by the wrapper's class alone. The Dataset path
  * keeps its encoded `(key, (Option[sort], value))` rows.
  *
  * Combiner (Dataset path): one path regardless of [[mapParallelism]].
  * The mapper's own `mapPartitions` folds emissions per key in a hash
  * map of at most [[MapReduceBase.CombineCap]] entries, emitting and
  * clearing it whenever it fills, so map-side memory stays bounded
  * however many distinct keys a partition holds. One keyed exchange
  * then finishes the fold (see [[dsSizedGroups]]).
  */
abstract class MapReduceBase[I, K, S, V] extends Serializable {

  /** Per-item transform -> 0..n keyed emissions; `flatMap` semantics
    * unify the reference's yield-vs-return mapper dispatch
    * (tinymr.py:186, 198-199).
    */
  def mapper(item: I): IterableOnce[Emit[K, S, V]]

  /** reference `sort_map_with_value`, tinymr.py:116-124 */
  def sortMapWithValue: Boolean = false

  /** reference `sort_map_reverse`, tinymr.py:126-134 */
  def sortMapReverse: Boolean = false

  /** reference `sort_reduce_with_value`, tinymr.py:136-144 */
  def sortReduceWithValue: Boolean = false

  /** reference `sort_reduce_reverse`, tinymr.py:146-154 */
  def sortReduceReverse: Boolean = false

  /** Declares that the reducer only re-emits the key it received, letting
    * the engine elide shuffle #2 entirely (SURVEY.md §4.2) — the common
    * word-count shape. The reference always pays its second partition pass
    * (tinymr.py:217-221); on a cluster that is a full extra shuffle, so
    * the elision is the single most important scale optimization in this
    * core.
    */
  def keyPreserving: Boolean = false

  /** Shuffle parallelism; 0 = Spark default. Replaces the reference's
    * round-robin key-cycling idiom (docs.rst:373-394). One knob sizing
    * both shuffles; override [[mapParallelism]] / [[reduceParallelism]]
    * to tune the phases independently. Honored on BOTH paths: the RDD
    * path sizes its HashPartitioners directly; the Dataset path swaps
    * `groupByKey`'s conf-sized exchange for an explicit
    * `repartition(n, key)` + in-partition sort + adjacent-group fold
    * (see [[dsPartitionAndSort]]). Left at 0 the Dataset exchanges stay
    * `spark.sql.shuffle.partitions` + AQE-coalesced — the right default
    * at scale; set the knobs only to pin a phase's width deliberately.
    */
  def numPartitions: Int = 0

  /** Shuffle-#1 (map-output) parallelism — the reference's independent
    * mapper pool (`map` vs `reduce_map`, tinymr.py:156-173, where the
    * mapper and reducer executors are tuned separately). Defaults to
    * [[numPartitions]].
    */
  def mapParallelism: Int = numPartitions

  /** Shuffle-#2 (reduce-output) parallelism — the reducer-pool half of
    * the reference's asymmetry. Defaults to [[numPartitions]].
    */
  def reduceParallelism: Int = numPartitions

  /** Called once per partition, before the first mapper/reducer call of
    * that partition's stream — the distributed form of the reference's
    * context-manager task idiom (`with WordCount() as wc:`,
    * docs.rst:189-194): open per-worker resources here (DB handles,
    * model weights, codecs), not in the constructor, which runs on the
    * driver and is serialized.
    */
  def setup(): Unit = {}

  /** Called once per partition, after the last record of that partition's
    * stream has been consumed — the `__exit__` half of the context-manager
    * idiom. Runs in both the map and reduce phases (each phase streams
    * each partition exactly once).
    */
  def teardown(): Unit = {}

  /** Engine-internal per-partition stream-state reset, invoked by
    * [[instrumented]] before [[setup]] at the start of every partition
    * stream. Spark tasks are single-threaded, so implementations may
    * reset plain vars without synchronization (the documented
    * assumption). User code overrides [[setup]], not this.
    */
  protected def onPartitionStart(): Unit = {}

  /** Optional commutative-associative combiner. When defined (and no
    * map-phase sort is requested) the map output is pre-combined per key
    * map-side — `reduceByKey` on the RDD path, the bounded in-mapper
    * fold on the Dataset path — so NO per-key value list is ever
    * materialized: the framework-level form of the reference's
    * in-mapper-combining idiom (docs.rst:197-283), which it can only
    * express as user code. The reducer then receives a single
    * pre-combined value. Requires KV-only emissions (enforced): sort
    * semantics are meaningless under combining.
    */
  def combiner: Option[(V, V) => V] = None

  /** Required iff sort elements ([[KSV]]) are emitted. */
  def sortOrdering: Ordering[S] =
    throw new UnsupportedOperationException(
      "emitting (key, sort, value) requires overriding sortOrdering")

  /** Required iff `sort*WithValue` is set. */
  def valueOrdering: Ordering[V] =
    throw new UnsupportedOperationException(
      "sort*WithValue requires overriding valueOrdering")

  // ---- internals ----------------------------------------------------

  protected type SV = (Option[S], V)

  /** Wraps one partition's stream with the [[setup]]/[[teardown]]
    * lifecycle: setup before the first element is produced, teardown
    * exactly once — eagerly on stream exhaustion (including the empty
    * partition, where it fires on the first hasNext probe), and
    * guaranteed at task completion/failure via
    * `TaskContext.addTaskCompletionListener` for streams that are never
    * drained: a downstream `take(n)`/`limit` short-circuit, a mid-stream
    * exception, a task kill. The `closed` flag keeps the two triggers
    * idempotent (tasks are single-threaded; the completion listener runs
    * on the task thread after the body finishes).
    */
  protected def instrumented[A, B](it: Iterator[A])(f: A => Iterator[B]): Iterator[B] = {
    onPartitionStart()
    setup()
    var closed = false
    def close(): Unit = if (!closed) { closed = true; teardown() }
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => close())
    val flat = it.flatMap(f)
    new Iterator[B] {
      def hasNext: Boolean = {
        val h = flat.hasNext
        if (!h) close()
        h
      }
      def next(): B = flat.next()
    }
  }

  /** `e` as its RDD-path shuffle record: the bare `(key, value)` pair
    * for a [[KV]], the value wrapped with its sort element for a [[KSV]].
    */
  protected def shuffled(e: Emit[K, S, V]): (K, Any) = e match {
    case s: KSV[K, S, V] @unchecked => (s.key, new SortedValue(s.sort, s.value))
    case _ => (e.key, e.value)
  }

  /** The user value inside a shuffled payload of either arity. */
  protected def valueOf(p: Any): V = p match {
    case s: SortedValue => s.value.asInstanceOf[V]
    case v => v.asInstanceOf[V]
  }

  /** A Dataset-path record's payload in the form [[sortValues]] reads. */
  private def payload(sv: SV): Any = sv._1 match {
    case Some(s) => new SortedValue(s, sv._2)
    case None => sv._2
  }

  /** Stable in-group sort per the S6 matrix over shuffled payloads;
    * `buf` arrival order is kept for ties (Timsort, matching reference
    * tinymr.py:336-343).
    */
  protected def sortValues(
      buf: mutable.ArrayBuffer[Any], withValue: Boolean, reverse: Boolean): List[V] = {
    val hasSort = buf.exists(_.isInstanceOf[SortedValue])
    // mixed KV/KSV under one key is malformed (the reference breaks on
    // mixed arities too, SURVEY §1.2) — fail with a clear error, not a
    // deep-in-Timsort ClassCastException
    def sortOf(p: Any): S = p match {
      case s: SortedValue => s.sort.asInstanceOf[S]
      case _ => throw new ElementCountError(
        "mixed (key, value) and (key, sort, value) emissions within one key group")
    }
    val ord: Ordering[Any] = (hasSort, withValue) match {
      case (true, true)   => Ordering.by((p: Any) => (sortOf(p), valueOf(p)))(Ordering.Tuple2(sortOrdering, valueOrdering))
      case (true, false)  => Ordering.by((p: Any) => sortOf(p))(sortOrdering)
      case (false, true)  => Ordering.by((p: Any) => valueOf(p))(valueOrdering)
      case (false, false) => null // 2-tuples with no flags: no sort (docs.rst:300-307)
    }
    val sorted =
      if (ord == null) buf
      else buf.sorted(if (reverse) ord.reverse else ord)
    sorted.iterator.map(valueOf).toList
  }

  /** One shuffle + sort pass — reference `_partition_and_sort`
    * (tinymr.py:278-345) as `groupByKey` + in-group sort. `partitions`
    * sizes this shuffle (per-phase: [[mapParallelism]] or
    * [[reduceParallelism]]); 0 = Spark default.
    */
  protected def partitionAndSort(
      rdd: RDD[(K, Any)], withValue: Boolean, reverse: Boolean, partitions: Int)(
      implicit kt: ClassTag[K]): RDD[(K, List[V])] = {
    val grouped =
      if (partitions > 0) rdd.groupByKey(partitions) else rdd.groupByKey()
    grouped.mapValues { it =>
      val buf = mutable.ArrayBuffer.empty[Any]
      buf ++= it
      sortValues(buf, withValue, reverse)
    }
  }

  /** Local (no-shuffle) grouping for the keyPreserving fast path: after
    * shuffle #1 every key lives in exactly one partition and the reducer
    * re-emits only its own key, so regrouping is partition-local.
    */
  protected def groupLocally(
      rdd: RDD[(K, Any)], withValue: Boolean, reverse: Boolean): RDD[(K, List[V])] =
    rdd.mapPartitions(
      it => {
        val m = mutable.LinkedHashMap.empty[K, mutable.ArrayBuffer[Any]]
        it.foreach { case (k, p) => m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += p }
        m.iterator.map { case (k, buf) => (k, sortValues(buf, withValue, reverse)) }
      },
      preservesPartitioning = true)

  protected def mapPhase(rdd: RDD[I], mapPar: Int = mapParallelism)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, List[V])] =
    combiner match {
      case Some(op) if !sortMapWithValue =>
        val mapped = rdd.mapPartitions(part => instrumented(part)(i =>
          mapper(i).iterator.map { e =>
            if (e.sortOpt.isDefined) throw new ElementCountError(
              "combiner requires (key, value) emissions — (key, sort, value) has no combine semantics")
            (e.key, e.value)
          }))
        val combined =
          if (mapPar > 0) mapped.reduceByKey(op, mapPar)
          else mapped.reduceByKey(op)
        combined.mapValues(List(_))
      case _ =>
        val mapped = rdd.mapPartitions(part =>
          instrumented(part)(i => mapper(i).iterator.map(shuffled)))
        partitionAndSort(mapped, sortMapWithValue, sortMapReverse, mapPar)
    }

  // ---- Dataset (Tungsten) execution path ----------------------------
  //
  // For K/S/V with Encoders (case classes, primitives, tuples) the same
  // lifecycle runs as Dataset.flatMap -> groupByKey -> flatMapGroups:
  // shuffle payloads are Tungsten-encoded rows instead of Java-serialized
  // objects, so spilling, AQE partition coalescing and shuffle
  // compression all apply. The RDD path remains for opaque value types
  // (the reference's values are arbitrary objects, tinymr.py:73-76).

  /** Keyed shuffle for the Dataset path: a `repartition` on `_1` +
    * in-partition sort on the encoded key makes equal keys contiguous,
    * and a streaming adjacent-group fold then applies `f` per key group,
    * holding one group (not one partition) in memory at a time.
    * `parallelism` > 0 pins the exchange to exactly that width; 0 leaves
    * it at `spark.sql.shuffle.partitions` for AQE to coalesce. A plain
    * pre-`repartition` before `groupByKey` would NOT do this: the lambda
    * key defeats exchange reuse and the groupByKey would just shuffle
    * again.
    *
    * Key-equality caveat (same as the RDD path's HashPartitioner):
    * grouping relies on the key's Tungsten encoding being
    * value-deterministic, true for the product/primitive/String keys
    * the Encoder context bound admits (a Double key distinguishing
    * -0.0/0.0 is the lone pathological corner, on both paths).
    * Adjacent-row equality uses [[keyEq]], not JVM `==`: array-typed
    * keys need element equality (reference `==` would split every
    * group into singletons) and NaN keys need compare-equality
    * (NaN != NaN) to match the groupByKey path's encoded-key grouping.
    */
  private def dsSizedGroups[O](ds: Dataset[(K, SV)], parallelism: Int)(
      f: (K, mutable.ArrayBuffer[Any]) => O)(implicit eo: Encoder[O]): Dataset[O] =
    (if (parallelism > 0) ds.repartition(parallelism, col("_1"))
     else ds.repartition(col("_1")))
      .sortWithinPartitions(col("_1"))
      .mapPartitions { it =>
        new Iterator[O] {
          private var pending: Option[(K, SV)] =
            if (it.hasNext) Some(it.next()) else None
          def hasNext: Boolean = pending.isDefined
          def next(): O = {
            val (k, first) = pending.get
            val buf = mutable.ArrayBuffer(payload(first))
            pending = None
            while (pending.isEmpty && it.hasNext) {
              val p = it.next()
              if (keyEq(p._1, k)) buf += payload(p._2) else pending = Some(p)
            }
            f(k, buf)
          }
        }
      }

  /** Value equality matching the Tungsten encoded-key grouping that the
    * groupByKey path performs: arrays compare element-wise (JVM `==` on
    * arrays is reference equality) and floating NaN compares equal to
    * itself (Spark's NormalizeFloatingNumbers canonicalizes NaN before
    * hashing/sorting, so NaN rows arrive adjacent and must group).
    * -0.0 vs 0.0 remains the one documented divergence on both paths.
    */
  private def keyEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[_], y: Array[_]) =>
      x.length == y.length && x.indices.forall(i => keyEq(x(i), y(i)))
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: Float, y: Float) => java.lang.Float.compare(x, y) == 0
    case (x: Product, y: Product) => // case-class keys: recurse into fields
      x.productArity == y.productArity &&
        (0 until x.productArity).forall(i => keyEq(x.productElement(i), y.productElement(i)))
    case _ => a == b
  }

  /** One Dataset shuffle + in-group sort pass (Tungsten analogue of
    * [[partitionAndSort]]). `parallelism` = 0 leaves the groupByKey
    * exchange to `spark.sql.shuffle.partitions` + AQE coalescing;
    * > 0 pins the exchange width via [[dsSizedGroups]].
    */
  protected def dsPartitionAndSort(
      ds: Dataset[(K, SV)], withValue: Boolean, reverse: Boolean,
      parallelism: Int = 0)(
      implicit ek: Encoder[K], eout: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] = {
    if (parallelism > 0)
      dsSizedGroups(ds, parallelism) { (k, buf) =>
        (k, sortValues(buf, withValue, reverse): Seq[V])
      }
    else
      ds.groupByKey(_._1)
        .flatMapGroups { (k: K, it: Iterator[(K, SV)]) =>
          val buf = mutable.ArrayBuffer.empty[Any]
          it.foreach(p => buf += payload(p._2))
          Iterator.single((k, sortValues(buf, withValue, reverse): Seq[V]))
        }
  }

  /** Partition-local regroup for the keyPreserving elision (Dataset). */
  protected def dsGroupLocally(
      ds: Dataset[(K, SV)], withValue: Boolean, reverse: Boolean)(
      implicit eout: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    ds.mapPartitions { it =>
      val m = mutable.LinkedHashMap.empty[K, mutable.ArrayBuffer[Any]]
      it.foreach { case (k, sv) => m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += payload(sv) }
      m.iterator.map { case (k, buf) => (k, sortValues(buf, withValue, reverse): Seq[V]) }
    }

  /** The Dataset combiner's map side: folds one partition's emissions
    * per key with `op` in a hash map of at most
    * [[MapReduceBase.CombineCap]] entries, emitting and clearing the map
    * whenever it fills. A key may thus come out more than once; the
    * exchange after it finishes the fold.
    */
  private def combineBounded(it: Iterator[Emit[K, S, V]], op: (V, V) => V): Iterator[(K, SV)] =
    new Iterator[(K, SV)] {
      private val m = new java.util.HashMap[K, V]()
      private var out = m.entrySet.iterator
      def hasNext: Boolean = out.hasNext || {
        m.clear()
        while (m.size < MapReduceBase.CombineCap && it.hasNext) {
          val e = it.next()
          if (e.sortOpt.isDefined) throw new ElementCountError(
            "combiner requires (key, value) emissions — (key, sort, value) has no combine semantics")
          val old = m.get(e.key)
          // null is a legal value: only containsKey tells a null from a miss
          m.put(e.key, if (old != null || m.containsKey(e.key)) op(old, e.value) else e.value)
        }
        out = m.entrySet.iterator
        out.hasNext
      }
      def next(): (K, SV) = {
        if (!hasNext) throw new NoSuchElementException("combined partition exhausted")
        val kv = out.next()
        (kv.getKey, (None, kv.getValue))
      }
    }

  protected def dsMapPhase(ds: Dataset[I], mapPar: Int = mapParallelism)(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eout: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    combiner match {
      case Some(op) if !sortMapWithValue =>
        val combined = ds.mapPartitions(part =>
          combineBounded(instrumented(part)(i => mapper(i).iterator), op))
        dsSizedGroups(combined, mapPar) { (k, buf) =>
          (k, Seq(buf.view.map(valueOf).reduce(op)): Seq[V])
        }
      case _ =>
        dsPartitionAndSort(
          ds.mapPartitions(part => instrumented(part)(i =>
            mapper(i).iterator.map(e => (e.key, (e.sortOpt, e.value))))),
          sortMapWithValue, sortMapReverse, mapPar)
    }
}

object MapReduceBase {
  /** Entry cap of the Dataset combiner's per-partition hash map. */
  private[mr] val CombineCap = 65536
}

/** Yield-mode task: the reducer emits 0..n records (reference generator
  * reducers, tinymr.py:214-215). Final result groups the reducer's output
  * by its emitted keys — `dict[key, list[value]]` in the reference
  * (tinymr.py:217-221) becomes a distributed `RDD[(K, List[V])]`.
  */
abstract class MapReduce[I, K, S, V] extends MapReduceBase[I, K, S, V] {

  def reducer(key: K, values: Seq[V]): IterableOnce[Emit[K, S, V]]

  final def run(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, List[V])] =
    run(rdd, mapParallelism, reduceParallelism)

  /** Per-invocation pool sizing — the reference's `map=` call parameter
    * (`__call__(sequence, map=None, mapper_map=None, reducer_map=None)`,
    * tinymr.py:156-173, where `map` is the DEFAULT for both phase
    * pools): one call-site value sizes BOTH shuffles for this run only,
    * without touching the task's own [[MapReduceBase.numPartitions]]
    * overrides. The two-arg form mirrors passing `mapper_map` and
    * `reducer_map` separately.
    */
  final def run(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, List[V])] =
    run(rdd, parallelism, parallelism)

  final def run(rdd: RDD[I], mapPar: Int, reducePar: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, List[V])] = {
    val reduced = mapPhase(rdd, mapPar).mapPartitions(part =>
      instrumented(part) { case (k, vs) => reducer(k, vs).iterator.map(shuffled) })
    if (keyPreserving) groupLocally(reduced, sortReduceWithValue, sortReduceReverse)
    else partitionAndSort(reduced, sortReduceWithValue, sortReduceReverse, reducePar)
  }

  /** Small-result driver adapter — the reference's in-memory result dict
    * (tinymr.py:229-230). 100 TB results must stay distributed; this is
    * the explicit, documented collect boundary.
    */
  final def runToMap(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Map[K, List[V]] =
    run(rdd).collect().toMap

  /** [[runToMap]] with the `map=`-style per-invocation pool size. */
  final def runToMap(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Map[K, List[V]] =
    run(rdd, parallelism).collect().toMap

  /** The reference's user-overridable finalizer hook (`output(self,
    * mapping)`, tinymr.py:93-114, called at tinymr.py:229-230): identity
    * by default, a `Counter` for top-k in the docs (docs.rst:150-151),
    * and "can in fact do anything" (docs.rst:282-283) — hence the
    * dynamic return type, matching the reference's unconstrained
    * contract. This is a DRIVER-side hook over the collected mapping
    * (the explicit small-result boundary, like [[runToMap]]);
    * finalization that must stay distributed belongs as ordinary
    * transformations on the [[run]] result instead.
    */
  def output(mapping: Map[K, List[V]]): Any = mapping

  /** The reference's full `__call__` lifecycle ending: [[runToMap]]
    * followed by the [[output]] finalizer (tinymr.py:229-230).
    */
  final def runOutput(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Any =
    output(runToMap(rdd))

  /** The reference's full `__call__(sequence, map=p)` form: lifecycle +
    * finalizer with one pool size defaulting both phases.
    */
  final def runOutput(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Any =
    output(runToMap(rdd, parallelism))

  /** Tungsten-encoded execution of the same lifecycle (see
    * [[MapReduceBase]] Dataset path). Requires Encoders for the key and
    * record tuples — i.e. product/primitive K, S, V.
    */
  final def runDataset(ds: Dataset[I])(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eout: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    runDataset(ds, mapParallelism, reduceParallelism)

  /** Dataset form of the `map=` per-invocation pool size. */
  final def runDataset(ds: Dataset[I], parallelism: Int)(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eout: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    runDataset(ds, parallelism, parallelism)

  final def runDataset(ds: Dataset[I], mapPar: Int, reducePar: Int)(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eout: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] = {
    val reduced = dsMapPhase(ds, mapPar).mapPartitions(part =>
      instrumented(part) { case (k, vs) =>
        reducer(k, vs).iterator.map(e => (e.key, (e.sortOpt, e.value)))
      })
    if (keyPreserving) dsGroupLocally(reduced, sortReduceWithValue, sortReduceReverse)
    else dsPartitionAndSort(reduced, sortReduceWithValue, sortReduceReverse,
      reducePar)
  }
}

/** Return-mode task: the reducer returns exactly one record. On key
  * collision after shuffle #2 only the first value (in post-sort order)
  * survives — the reference's `{k: next(iter(v))}` collapse
  * (tinymr.py:222-227, semantic S2).
  */
abstract class MapReduce1[I, K, S, V] extends MapReduceBase[I, K, S, V] {

  def reducer(key: K, values: Seq[V]): Emit[K, S, V]

  final def run(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, V)] =
    run(rdd, mapParallelism, reduceParallelism)

  /** Per-invocation pool sizing — the reference's `map=` call parameter
    * defaulting both phases (tinymr.py:156-173); same contract as the
    * yield-mode `MapReduce.run(rdd, parallelism)` overload.
    */
  final def run(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, V)] =
    run(rdd, parallelism, parallelism)

  final def run(rdd: RDD[I], mapPar: Int, reducePar: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, V)] = {
    val reduced = mapPhase(rdd, mapPar).mapPartitions(part =>
      instrumented(part) { case (k, vs) => Iterator.single(shuffled(reducer(k, vs))) })
    if (keyPreserving)
      // keys are unique per partition after shuffle #1, so no collision
      // and no regroup is possible — straight projection.
      reduced.map { case (k, p) => (k, valueOf(p)) }
    else
      partitionAndSort(reduced, sortReduceWithValue, sortReduceReverse, reducePar)
        .mapValues(_.head)
  }

  final def runToMap(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Map[K, V] =
    run(rdd).collect().toMap

  /** [[runToMap]] with the `map=`-style per-invocation pool size. */
  final def runToMap(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Map[K, V] =
    run(rdd, parallelism).collect().toMap

  /** Return-mode form of the [[MapReduce.output]] finalizer hook
    * (tinymr.py:93-114; the reference collapses to single values first,
    * tinymr.py:222-227, so its `output` sees `dict[key, value]`).
    */
  def output(mapping: Map[K, V]): Any = mapping

  /** [[runToMap]] + [[output]] — reference tinymr.py:229-230. */
  final def runOutput(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Any =
    output(runToMap(rdd))

  /** The reference's full `__call__(sequence, map=p)` form. */
  final def runOutput(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Any =
    output(runToMap(rdd, parallelism))

  /** Tungsten-encoded execution; see [[MapReduceBase]] Dataset path. */
  final def runDataset(ds: Dataset[I])(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eseq: Encoder[(K, Seq[V])], ekv: Encoder[(K, V)]): Dataset[(K, V)] =
    runDataset(ds, mapParallelism, reduceParallelism)

  /** Dataset form of the `map=` per-invocation pool size. */
  final def runDataset(ds: Dataset[I], parallelism: Int)(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eseq: Encoder[(K, Seq[V])], ekv: Encoder[(K, V)]): Dataset[(K, V)] =
    runDataset(ds, parallelism, parallelism)

  final def runDataset(ds: Dataset[I], mapPar: Int, reducePar: Int)(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eseq: Encoder[(K, Seq[V])], ekv: Encoder[(K, V)]): Dataset[(K, V)] = {
    val singles = dsMapPhase(ds, mapPar).mapPartitions(part =>
      instrumented(part) { case (k, vs) =>
        val e = reducer(k, vs)
        Iterator.single((e.key, (e.sortOpt, e.value)))
      })
    if (keyPreserving)
      singles.map(p => (p._1, p._2._2))
    else
      dsPartitionAndSort(singles, sortReduceWithValue, sortReduceReverse,
        reducePar)
        .map(p => (p._1, p._2.head))
  }
}

/** Arity-sniffing adapter for untyped records, kept for behavioral
  * fidelity with the reference's dynamic API: records are `Product`s
  * (tuples) of arity 2 or 3; only the FIRST record of each partition's
  * stream is validated — a bad arity there raises [[ElementCountError]]
  * exactly like tinymr.py:302-308, which peeks the stream head once per
  * partition and never re-checks. Later malformed records surface as the
  * lenient downstream error (the reference's verified lenient-then-loud
  * behavior — SURVEY.md §1.2).
  *
  * The head flags are reset explicitly at every partition-stream start
  * (via [[onPartitionStart]]) — not by relying on each Spark task
  * deserializing a fresh copy of this object, which would silently stop
  * holding if the task were ever invoked on a non-serialized instance
  * (driver-side local runs, a future fast path). Tasks are
  * single-threaded, so the plain vars need no synchronization.
  */
abstract class UntypedMapReduce[I] extends MapReduce[I, Any, Any, Any] {

  def untypedMapper(item: I): IterableOnce[Product]
  def untypedReducer(key: Any, values: Seq[Any]): IterableOnce[Product]

  @transient private var mapperValidated = false
  @transient private var reducerValidated = false

  override protected def onPartitionStart(): Unit = {
    mapperValidated = false
    reducerValidated = false
  }

  private def toEmit(p: Product, phase: String, first: Boolean): Emit[Any, Any, Any] =
    p.productArity match {
      case 2 => KV(p.productElement(0), p.productElement(1))
      case 3 => KSV(p.productElement(0), p.productElement(1), p.productElement(2))
      case n if first =>
        throw new ElementCountError(
          s"$phase emitted a record with $n elements — expected 2 or 3")
      case _ =>
        // past the stream head the reference no longer validates; fail
        // the same lenient-then-loud way it does.
        throw new IllegalArgumentException(
          s"malformed $phase record of arity ${p.productArity}")
    }

  final def mapper(item: I): IterableOnce[Emit[Any, Any, Any]] = {
    val it = untypedMapper(item).iterator
    new Iterator[Emit[Any, Any, Any]] {
      def hasNext: Boolean = it.hasNext
      def next(): Emit[Any, Any, Any] = {
        val head = !mapperValidated
        mapperValidated = true
        toEmit(it.next(), "mapper", head)
      }
    }
  }

  final def reducer(key: Any, values: Seq[Any]): IterableOnce[Emit[Any, Any, Any]] = {
    val it = untypedReducer(key, values).iterator
    new Iterator[Emit[Any, Any, Any]] {
      def hasNext: Boolean = it.hasNext
      def next(): Emit[Any, Any, Any] = {
        val head = !reducerValidated
        reducerValidated = true
        toEmit(it.next(), "reducer", head)
      }
    }
  }

  override def sortOrdering: Ordering[Any] = UntypedMapReduce.comparableOrdering
  override def valueOrdering: Ordering[Any] = UntypedMapReduce.comparableOrdering
}

object UntypedMapReduce {
  /** Natural ordering via Comparable — the analogue of Python's dynamic
    * `<` on sort elements (reference tinymr.py:339, `list.sort`).
    */
  val comparableOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
  }
}
