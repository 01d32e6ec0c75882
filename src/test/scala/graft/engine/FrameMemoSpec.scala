package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec

/** Contract of the memo every shared build declared as an [[Artifact]]
  * (LSH pairs, components, IVF cells, PQ index, shingle tables, winnow
  * fingerprints, sketches, simhash, …) stores its frame in: one build
  * per (session, dir), distinct entries per dir, and bounded size with
  * insertion-order eviction — the property that keeps stopped sessions
  * and their checkpointed RDDs releasable. The artifacts here are not
  * declared (no registry entry, no Bench row). */
class FrameMemoSpec extends SparkSpec {

  private def scratch(storage: Artifact.Storage)(
      build: (SparkSession, String) => DataFrame): Artifact =
    new Artifact("scratch", storage, build)

  test("computes once per key and returns the same frame after") {
    val builds = new AtomicInteger
    val art = scratch(Artifact.AsBuilt) { (s, _) =>
      builds.incrementAndGet(); s.range(3).toDF() }
    val a1 = art(spark, "dirA")
    val a2 = art(spark, "dirA")
    assert(builds.get() == 1, "second get must not recompute")
    assert(a1 eq a2, "must return the memoized instance")
    assert(art.memo.builds.get == 1 && art.memo.hits.get == 1,
      "the memo counts one build and one hit")
    assert(art.memo.buildNanos.get > 0, "the build's time is counted")
  }

  test("distinct dirs get distinct entries") {
    val builds = new AtomicInteger
    val art = scratch(Artifact.AsBuilt) { (s, d) =>
      builds.incrementAndGet(); s.range(d.length).toDF() }
    val a = art(spark, "dirA")
    val b = art(spark, "dirBB")
    assert(builds.get() == 2)
    assert(!(a eq b))
    assert(art(spark, "dirBB") eq b)
    assert(art.memo.builds.get == 2 && art.memo.hits.get == 1)
  }

  test("bounded: eldest entry is evicted and recomputed on next access") {
    val builds = new AtomicInteger
    val art = scratch(Artifact.AsBuilt) { (s, _) =>
      builds.incrementAndGet(); s.range(1).toDF() }
    // fill past MaxEntries (8): dir0 must age out
    (0 to 8).foreach(i => art(spark, s"dir$i"))
    assert(builds.get() == 9)
    art(spark, "dir8")
    assert(builds.get() == 9, "dir8 is still resident")
    art(spark, "dir0")
    assert(builds.get() == 10, "evicted dir0 must recompute")
    assert(art.memo.builds.get == 10 && art.memo.hits.get == 1,
      "a recompute after eviction counts as a build, not a hit")
  }

  test("eviction unpersists the evicted entry's checkpoint blocks") {
    val sc = spark.sparkContext
    // the default storage: the artifact localCheckpoints the build
    val art = scratch(Artifact.Checkpoint)((s, _) => s.range(1).toDF())
    val first = art(spark, "dir0")
    val firstRdd = Frames.checkpointRdd(first)
    assert(firstRdd.isDefined, "localCheckpoint frame must expose its RDD")
    val id = firstRdd.get.id
    assert(sc.getPersistentRDDs.contains(id), "checkpoint is persisted")
    // fill past MaxEntries (8) so dir0 ages out
    (1 to 8).foreach(i => art(spark, s"dir$i"))
    assert(!sc.getPersistentRDDs.contains(id),
      "evicted entry's blocks must be released deterministically, " +
        "not left to GC + ContextCleaner")
    // the surviving entries are untouched
    val last = art.memo.get(spark, "dir8")(sys.error("must be resident"))._1
    val lastId = Frames.checkpointRdd(last).get.id
    assert(sc.getPersistentRDDs.contains(lastId))
  }

  test("race loser's checkpoint is released, winner's frame is returned") {
    val sc = spark.sparkContext
    val winner = spark.range(2).toDF().localCheckpoint(eager = true)
    val loser = spark.range(2).toDF().localCheckpoint(eager = true)
    val loserId = Frames.checkpointRdd(loser).get.id
    val calls = new AtomicInteger
    // simulate the race: winner inserted while the loser's build ran
    lazy val art: Artifact = scratch(Artifact.AsBuilt) { (s, d) =>
      if (calls.incrementAndGet() == 1) {
        art(s, d) // "another thread" wins first
        loser
      } else winner
    }
    val got = art(spark, "dirR")
    assert(got eq winner, "winner's instance must be returned")
    assert(art.memo.builds.get == 2 && art.memo.hits.get == 0,
      "the racing loser's compute counts as a build")
    assert(!sc.getPersistentRDDs.contains(loserId),
      "losing compute's checkpoint must be released explicitly")
  }
}
