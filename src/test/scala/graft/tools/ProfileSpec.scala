package graft.tools

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.SparkSpec

/** graft.tools.Profile's record is self-consistent and complete: the
  * rep split sums to the wall, every stage's task statistics are sane,
  * and no task-end event is lost to the asynchronous listener bus. */
class ProfileSpec extends SparkSpec {

  private val Q = "q19_agg_group"

  private def profile(reps: Int): JsonNode = {
    val Seq(rec) = Profile.run(spark, sf, reps, Seq(Q), Map.empty)
    new ObjectMapper().readTree(rec)
  }

  private def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  test("each rep's construct + plan + exec is its wall; stage stats are sane") {
    val rec = profile(2)
    assert(rec.get("name").asText == Q)
    val reps = elems(rec.get("reps"))
    assert(reps.size == 2)
    reps.foreach { r =>
      val wall = r.get("wall_s").asDouble
      val parts = Seq("construct_s", "plan_s", "exec_s")
        .map(r.get(_).asDouble).sum
      assert(math.abs(parts - wall) <= math.max(0.05 * wall, 0.05), r.toString)
    }
    Seq("analysis_s", "optimization_s", "planning_s")
      .foreach(p => assert(rec.get(p).asDouble >= 0.0, p))
    assert(elems(rec.get("jobs")).nonEmpty)
    val stages = elems(rec.get("stages"))
    assert(stages.nonEmpty)
    stages.foreach { s =>
      assert(s.get("tasks").asInt >= 1, s.toString)
      assert(s.get("median_s").asDouble <= s.get("max_s").asDouble, s.toString)
    }
    assert(rec.get("plan").asText.contains("HashAggregate"))
  }

  test("the stages' tasks equal the task-end events an independent listener saw") {
    val seen = mutable.Map[(Int, Int), Int]().withDefaultValue(0)
    // deliberately slow: listeners share one bus thread, so the bus runs
    // behind the action and a record read without draining it would miss
    // the late task-end events
    val counter = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        Thread.sleep(50)
        seen.synchronized { seen((e.stageId, e.stageAttemptId)) += 1 }
      }
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    val rec = try profile(2) finally {
      ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counter)
    }
    // stage ids are unique per context, so the fastest rep's jobs pick
    // out its own stages among both reps' events; compared per stage
    // attempt, so a late event of one rep landing in the other's record
    // cannot cancel out in the sum
    val bestStages = elems(rec.get("jobs"))
      .flatMap(j => elems(j.get("stages")).map(_.asInt)).toSet
    val expected = seen.synchronized {
      seen.toMap.filter { case ((sid, _), _) => bestStages(sid) }
    }
    val recorded = elems(rec.get("stages")).map { s =>
      (s.get("id").asInt, s.get("attempt").asInt) -> s.get("tasks").asInt
    }.toMap
    assert(expected.nonEmpty)
    assert(recorded == expected)
    assert(recorded.values.sum == expected.values.sum)
  }

  test("reps = 0 executes nothing and still records the physical plan") {
    val before = spark.conf.getOption("graft.artifacts.reuse")
    val rec = profile(0)
    assert(spark.conf.getOption("graft.artifacts.reuse") == before)
    assert(!rec.has("reps") && !rec.has("jobs") && !rec.has("stages"))
    assert(rec.get("construct_s").asDouble >= 0.0)
    assert(rec.get("planning_s").asDouble >= 0.0)
    assert(rec.get("plan").asText.contains("HashAggregate"))
  }
}
