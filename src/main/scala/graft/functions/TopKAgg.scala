package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Bounded top-k as a custom typed aggregate (SURVEY §2.11: the
  * `Aggregator[IN,BUF,OUT]` extension surface).
  *
  * Scale rationale: `row_number().over(Window.partitionBy(g).orderBy(v))`
  * shuffles and SORTS every row of every group to keep k of them; this
  * aggregator keeps a k-bounded buffer, combines map-side (partial
  * aggregation before the exchange — only k rows per (partition, group)
  * cross the wire), and never materializes a full group. At 100 TB,
  * top-k-per-key over a skewed key set is the difference between a sort
  * spill and a k-entry heap.
  *
  * Ordering: by value DESC, ties to the smaller id (deterministic).
  * Output is the sorted entry list; explode + posexplode gives ranks.
  */
object TopKAgg {

  case class Entry(v: Double, id: Long)
  case class Buf(items: Seq[Entry])

  /** True iff x ranks strictly ahead of y (v desc, id asc). */
  private def ahead(x: Entry, y: Entry): Boolean =
    x.v > y.v || (x.v == y.v && x.id < y.id)

  class TopK(k: Int) extends Aggregator[Entry, Buf, Seq[Entry]] {
    require(k > 0, s"k must be positive, got $k")

    def zero: Buf = Buf(Vector.empty)

    // NaN values are excluded by contract: ahead() is false in BOTH
    // directions for NaN, so one NaN entry would occupy a slot it can
    // never lose and, once the buffer fills, reject every later value
    // (items.last = NaN beats nothing). A NaN score carries no rank
    // information — skip it (callers feeding vec_cosine hit this via
    // zero-norm embeddings: 0/0).
    def reduce(b: Buf, a: Entry): Buf =
      if (java.lang.Double.isNaN(a.v)) b else insert(b, a)

    def merge(x: Buf, y: Buf): Buf = y.items.foldLeft(x)(insert)

    def finish(b: Buf): Seq[Entry] = b.items

    /** Keep `items` sorted (best first) and capped at k. Linear insert:
      * k is small by construction, and most rows lose to the current
      * k-th entry in one comparison and allocate nothing.
      */
    private def insert(b: Buf, a: Entry): Buf = {
      val items = b.items
      if (items.size >= k && !ahead(a, items.last)) b
      else {
        val pos = items.indexWhere(e => ahead(a, e)) match {
          case -1 => items.size
          case p  => p
        }
        val grown = (items.take(pos) :+ a) ++ items.drop(pos)
        Buf(if (grown.size > k) grown.take(k) else grown)
      }
    }

    def bufferEncoder: Encoder[Buf] = bufEncoder
    def outputEncoder: Encoder[Seq[Entry]] = outEncoder
  }

  // Derived once per JVM. Each derivation is a Scala-reflection walk
  // under a global lock, and Spark asks an aggregate for its output
  // encoder again in every task that deserializes it.
  private lazy val entryEncoder: Encoder[Entry] = Encoders.product[Entry]
  private lazy val bufEncoder: Encoder[Buf] = Encoders.product[Buf]
  private lazy val outEncoder: Encoder[Seq[Entry]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Entry]]()

  /** Column-function form: `topK(3)($"value", $"id")` → array<struct<v,id>>. */
  def topK(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopK(k), entryEncoder)
}
