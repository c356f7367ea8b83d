package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** Both regimes of [[ConnectedComponents]] — driver union-find and
  * distributed label propagation — against a plain reference union-find. */
class ConnectedComponentsSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val onDriver = Long.MaxValue
  private val distributed = -1L

  /** A graph: vertex ids, and edges whose endpoints may be null or absent
    * from the vertices. */
  private case class Graph(vertices: Seq[Long], edges: Seq[(Option[Long], Option[Long])])

  private def frames(g: Graph, idType: DataType): (DataFrame, DataFrame) = {
    def cell(v: Long): Any = if (idType == IntegerType) v.toInt else v
    val vs = spark.createDataFrame(
      spark.sparkContext.parallelize(g.vertices.map(v => Row(cell(v))), 2),
      StructType(Seq(StructField("vid", idType))))
    val es = spark.createDataFrame(
      spark.sparkContext.parallelize(
        g.edges.map { case (a, b) => Row(a.map(cell).orNull, b.map(cell).orNull) }, 3),
      StructType(Seq(StructField("a", idType), StructField("b", idType))))
    (vs, es)
  }

  private def solve(g: Graph, idType: DataType, cap: Long): Map[Long, Long] = {
    val (vs, es) = frames(g, idType)
    val out = ConnectedComponents.run(vs, es, 25, cap)
    out.columns.toSeq shouldBe Seq("vid", "component")
    out.schema.map(_.dataType) shouldBe Seq(LongType, LongType)
    val rows = out.collect()
    rows.length shouldBe g.vertices.size
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Components of the subgraph the vertices induce, each labeled with its
    * minimum id. */
  private def reference(g: Graph): Map[Long, Long] = {
    val in = g.vertices.toSet
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((Some(a), Some(b)) <- g.edges if in(a) && in(b)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    g.vertices.map(v => v -> find(v)).toMap
  }

  private def bothRegimesMatch(g: Graph, idType: DataType = LongType): Unit = {
    val expected = reference(g)
    withClue(s"driver regime on $g: ")(solve(g, idType, onDriver) shouldBe expected)
    withClue(s"distributed regime on $g: ")(solve(g, idType, distributed) shouldBe expected)
  }

  // ids 0..24, vertices drawn from 0..19: endpoints 20..24 are never vertices
  private val graphs: Gen[Graph] = for {
    vertices <- Gen.someOf(0L until 20L).map(_.toSeq.distinct)
    endpoint = Gen.frequency(9 -> Gen.choose(0L, 24L).map(Option(_)), 1 -> Gen.const(None))
    edges <- Gen.listOf(Gen.zip(endpoint, endpoint)).map(_.take(30))
    extra <- Gen.choose(0, 5)
    loops <- Gen.listOfN(2, Gen.choose(0L, 19L))
  } yield Graph(vertices,
    // reversed and duplicate edges, and self-loops, on top of the random ones
    edges ++ edges.take(extra).map(_.swap) ++ edges.take(extra) ++ loops.map(v => Some(v) -> Some(v)))

  test("driver and distributed regimes equal a reference union-find on random graphs") {
    val prop = Prop.forAll(graphs, Gen.oneOf(LongType, IntegerType)) { (g, idType) =>
      bothRegimesMatch(g, idType)
      true
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("an empty edge set leaves every vertex alone in both regimes") {
    bothRegimesMatch(Graph((0L to 5L), Nil))
    bothRegimesMatch(Graph((0L to 5L), Seq(Some(3L) -> Some(3L), None -> Some(1L))))
  }

  test("an edge with an endpoint outside the vertices is ignored") {
    val g = Graph(Seq(1L, 2L), Seq(Some(1L) -> Some(9L), Some(9L) -> Some(2L)))
    reference(g) shouldBe Map(1L -> 1L, 2L -> 2L)
    bothRegimesMatch(g)
  }

  test("a 40-vertex chain converges to one component in both regimes") {
    val g = Graph(0L until 40L, (0L until 39L).map(i => Some(i) -> Some(i + 1)))
    reference(g).values.toSet shouldBe Set(0L)
    bothRegimesMatch(g)
  }

  test("minRoots roots every component at its minimum id") {
    val (nonRoots, roots) = ConnectedComponents.minRoots(
      Array(Array(5L, 3L, 8L, 7L), Array(3L, 1L, -2L, 8L, 5L, 1L)))
    nonRoots.zip(roots).toMap shouldBe Map(3L -> 1L, 5L -> 1L, 7L -> -2L, 8L -> -2L)
    val (none, noRoots) = ConnectedComponents.minRoots(Array.empty)
    none shouldBe empty
    noRoots shouldBe empty
  }
}
