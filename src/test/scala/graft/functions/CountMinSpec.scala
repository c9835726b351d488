package graft.functions

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Count–Min checks: the never-underestimates invariant and the εn
  * error bound on randomized streams, and — unlike Misra–Gries — exact
  * CONTENT determinism across partitionings (merge is element-wise
  * addition, fully commutative).
  */
class CountMinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("estimates never underestimate; error stays within εn on skewed streams") {
    val rnd = new Random(7)
    val (depth, width) = (4, 256)
    val agg = CountMinAggregator(depth, width)
    for (_ <- 1 to 10) {
      val stream = rnd.shuffle(Seq.tabulate(60)(i =>
        Seq.fill(400 / (i + 1))(s"w$i")).flatten)
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val chunks = stream.grouped(1 + rnd.nextInt(50)).toSeq
      val sketch = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
        .reduce(agg.merge)
      val n = stream.size
      val epsN = math.ceil(math.E / width * n).toLong
      exact.foreach { case (w, c) =>
        val est = CountMinAggregator.estimate(sketch, depth, width, w)
        assert(est >= c, s"underestimated '$w'")
        assert(est - c <= 4 * epsN, s"'$w' est=$est exact=$c bound=$epsN")
      }
    }
  }

  test("sketch content is identical under different partitionings") {
    import spark.implicits._
    val stream = Seq.tabulate(40)(i => Seq.fill(200 / (i + 1))(s"t$i")).flatten
    val agg = CountMinAggregator(4, 128)
    val a = spark.createDataset(stream).repartition(2)
      .select(agg.toColumn).head()
    val b = spark.createDataset(stream).repartition(13)
      .select(agg.toColumn).head()
    assert(a.toSeq == b.toSeq) // content equality, not just guarantees
  }

  test("zero-count items estimate small but never negative") {
    val agg = CountMinAggregator(4, 64)
    val sketch = Seq("a", "b", "a").foldLeft(agg.zero)(agg.reduce)
    val est = CountMinAggregator.estimate(sketch, 4, 64, "absent")
    assert(est >= 0 && est <= 3)
  }
}
