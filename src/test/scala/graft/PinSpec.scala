package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Pin
import graft.engine.Pin.Ops

/** The materialization lifecycle primitive: scopes release what they own,
  * hand a returned frame's pins to the caller, and hold nothing for a
  * caller that opened no scope. */
class PinSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddOf(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd.id
    }.get

  private def frame(n: Int): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 3).as("k"))

  test("a scope releases eager pins, lazy pins and caches on normal exit") {
    var ids = Seq.empty[Int]
    var c: DataFrame = null
    val n = Pin.scoped {
      val eager = frame(10).pin()
      val lzy = frame(20).pin(eager = false)
      c = frame(30).cached()
      ids = Seq(rddOf(eager), rddOf(lzy))
      assert(ids.forall(persisted))
      eager.count() + lzy.count() + c.count()
    }
    assert(n == 60)
    assert(ids.forall(id => !persisted(id)))
    assert(c.storageLevel == StorageLevel.NONE)
  }

  test("a scope releases everything it owns when its body throws") {
    var ids = Seq.empty[Int]
    var c: DataFrame = null
    intercept[IllegalStateException] {
      Pin.scoped {
        ids = Seq(rddOf(frame(5).pin()))
        c = frame(6).cached()
        c.count()
        throw new IllegalStateException("boom")
      }
    }
    assert(ids.forall(id => !persisted(id)))
    assert(c.storageLevel == StorageLevel.NONE)
  }

  test("a returned frame's pins move to the parent scope and still read " +
      "after the inner scope closes (the globalRank shape)") {
    val df = (1L to 200L).map(i => (i, (i * 7919) % 101)).toDF("id", "k")
      .repartition(3)
    val before = persisted
    Pin.scoped {
      val ranked = Pin.scoped {
        engine.Relational.globalRank(df, Seq(col("k"), col("id")), "rk")
      }
      val owned = persisted -- before
      assert(owned.nonEmpty, "the rank's checkpoint was released early")
      val got = ranked.select("id", "rk").as[(Long, Long)].collect().toMap
      val want = df.collect().map(r => (r.getLong(1), r.getLong(0)))
        .sorted.map(_._2).zipWithIndex.map { case (id, i) => id -> (i + 1L) }
        .toMap
      assert(got == want)
      // a lazy pin over an inner eager pin: both escape together
      val chained = Pin.scoped {
        val base = frame(50).pin()
        base.filter(col("k") === 1).pin(eager = false)
      }
      assert(chained.count() == 17)
    }
    assert((persisted -- before).isEmpty)
  }

  test("nested scopes: an inner exit frees only the inner pins") {
    Pin.scoped {
      val outer = frame(8).pin()
      val innerId = Pin.scoped {
        val inner = frame(9).pin()
        outer.count()
        rddOf(inner)
      }
      assert(!persisted(innerId))
      assert(persisted(rddOf(outer)))
      val c = Pin.scoped(frame(4).cached())
      assert(c.count() == 4)
      assert(c.storageLevel != StorageLevel.NONE)
    }
  }

  test("release frees a checkpoint behind a derived frame and a cache") {
    Pin.scoped {
      val p = frame(12).pin()
      val derived = p.drop("k")
      Pin.release(derived)
      assert(!persisted(rddOf(p)))
      val c = frame(13).cached()
      c.count()
      Pin.release(c)
      assert(c.storageLevel == StorageLevel.NONE)
    }
  }

  test("a memo survives the query scope that built it") {
    var builds = 0
    val key = ("PinSpec", "memo")
    def m = Pin.memo(key) {
      builds += 1
      val scratch = frame(7).pin()
      scratch.filter(col("k") === 0).pin()
    }
    val id = Pin.scoped(rddOf(m))
    assert(persisted(id))
    assert(Pin.memoRddIds.contains(id))
    assert(Pin.scoped(m.count()) == 3)
    assert(builds == 1)
  }

  test("a pin outside every scope, or escaping the outermost one, is not " +
      "strongly held") {
    def weak(make: => DataFrame): WeakReference[DataFrame] = {
      val df = make
      df.count()
      new WeakReference(df)
    }
    val refs = Seq(weak(frame(11).pin()), weak(Pin.scoped(frame(12).pin())))
    var tries = 0
    while (refs.exists(_.get != null) && tries < 50) {
      System.gc(); Thread.sleep(20); tries += 1
    }
    assert(refs.forall(_.get == null))
  }
}
