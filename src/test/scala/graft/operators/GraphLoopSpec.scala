package graft.operators

import graft.SparkTestBase
import org.apache.spark.storage.StorageLevel

/** The graph kernel's cache scope and round release. */
class GraphLoopSpec extends SparkTestBase {
  import spark.implicits._

  private def frame = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")

  test("a frame persisted through the scope is released when the body returns") {
    var held: org.apache.spark.sql.DataFrame = null
    val n = GraphLoop.scoped { scope =>
      held = scope.persist(frame)
      assert(held.storageLevel == StorageLevel.MEMORY_AND_DISK)
      held.count()
    }
    assert(n == 3L)
    assert(held.storageLevel == StorageLevel.NONE)
  }

  test("a frame persisted through the scope is released when the body throws") {
    var held: org.apache.spark.sql.DataFrame = null
    val err = intercept[IllegalStateException] {
      GraphLoop.scoped { scope =>
        held = scope.persist(frame)
        held.count()
        throw new IllegalStateException("round failed")
      }
    }
    assert(err.getMessage == "round failed")
    assert(held.storageLevel == StorageLevel.NONE)
  }

  test("advance releases the checkpoints a lazy round read once the next round replaces it") {
    def persistent = spark.sparkContext.getPersistentRDDs.keySet
    val before = persistent
    val r0 = GraphLoop.checkpoint(frame)
    val lazyRound = r0.union(frame)
    val r2 = GraphLoop.advance(lazyRound, lazyRound.filter($"a" > 1L))
    assert(r2.count() == 4L)
    assert((persistent -- before).size == 1, "only the latest round's blocks stay persisted")
  }
}
