package graft

import graft.ops.Scratch
import org.scalatest.funsuite.AnyFunSuite

/** The [[Scratch.run]] law on toy bodies: the dir is cleared before
  * the body, gone after it, and the result still reads; a throwing
  * body takes the dir and its `__` siblings with it.
  */
class ScratchSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def exists(p: String) =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  test("Scratch.run clears a leftover dir, localizes the result and removes the dir") {
    val dir = s"/scratch-spec/ok-${System.nanoTime()}"
    val path = Scratch.pathOf(spark, "law", dir)
    Seq(99L).toDF("id").write.parquet(path) // an earlier run's leftover
    val out = Scratch.run(spark, "law", dir) { p =>
      assert(p === path)
      assert(!exists(p), "leftover not cleared before the body")
      Seq(1L).toDF("id").write.parquet(p)
      spark.read.parquet(p)
    }
    assert(!exists(path))
    assert(out.as[Long].collect().toSeq === Seq(1L))
  }

  test("a throwing body leaves neither the dir nor its __ siblings, and the exception propagates") {
    val dir = s"/scratch-spec/fail-${System.nanoTime()}"
    val path = Scratch.pathOf(spark, "law", dir)
    val e = intercept[IllegalStateException] {
      Scratch.run(spark, "law", dir) { p =>
        Seq(1L).toDF("id").write.parquet(p)
        Seq(2L).toDF("id").write.parquet(p + "__retrain_tmp")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(!exists(path) && !exists(path + "__retrain_tmp"))
  }
}
