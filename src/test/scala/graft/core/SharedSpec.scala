package graft.core

import graft.{SparkEntry, SparkSpec}
import graft.queries.LinkQueries.coPurchase
import java.nio.file.{Files, Path, Paths}

/** [[Shared]]'s owner and consumer paths, on the real co-purchase
  * result and the sf0.001 fixtures. Each case keys its entries by a new
  * copy of the fixture dir, so no other suite's entry can answer it.
  * The last case stops the suite's SparkContext; later suites come up
  * on a live one through `SparkSpec.session()`. */
class SharedSpec extends SparkSpec {

  private val sf = Paths.get("/root/testdata/sf0.001")

  /** A copy of the sf0.001 fixtures under a dir no entry is keyed by. */
  private def freshDir(): String = {
    val to = SparkSpec.tempDir("graft-shared")
    Files.walk(sf).forEach { (p: Path) =>
      val t = to.resolve(sf.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    to.toString
  }

  test("a consumer builds once when the entry is absent, then reuses it") {
    val d = freshDir()
    assert(coPurchase.stored(spark, d).isEmpty)
    val built = coPurchase(spark, d)
    assert(coPurchase.stored(spark, d).exists(_ eq built))
    assert(coPurchase(spark, d) eq built)
  }

  test("the owner's fresh replaces the entry; the next consumer gets it") {
    val d = freshDir()
    val old = coPurchase(spark, d)
    val renewed = coPurchase.fresh(spark, d)
    assert(!(renewed eq old))
    assert(coPurchase(spark, d) eq renewed)
  }

  test("different fixture dirs get separate entries") {
    val (d1, d2) = (freshDir(), freshDir())
    val a = coPurchase(spark, d1)
    val b = coPurchase(spark, d2)
    assert(!(a eq b))
    assert(coPurchase(spark, d1) eq a)
    assert(coPurchase(spark, d2) eq b)
  }

  test("q_x_pagerank takes its basket from the pair frame q_x_triangles stored") {
    val d = freshDir()
    def run(q: String): Unit = SparkEntry.queries(q)(spark, d).collect()
    // with no entry, pagerank builds the shared frame as a consumer
    run("q_x_pagerank")
    val byPagerank = coPurchase.stored(spark, d)
    assert(byPagerank.isDefined)
    run("q_x_triangles")
    val byTriangles = coPurchase.stored(spark, d).get
    assert(!(byTriangles eq byPagerank.get))
    // with the owner's entry present, pagerank builds no second basket
    run("q_x_pagerank")
    assert(coPurchase.stored(spark, d).exists(_ eq byTriangles))
  }

  test("an entry of a stopped context is gone after the next lookup") {
    val d = freshDir()
    val dead = spark
    coPurchase(dead, d)
    dead.stop()
    assert(coPurchase.stored(dead, d).isDefined)
    val live = SparkSpec.session()
    val rebuilt = coPurchase(live, d)
    assert(coPurchase.stored(dead, d).isEmpty)
    assert(coPurchase.stored(live, d).exists(_ eq rebuilt))
  }
}
