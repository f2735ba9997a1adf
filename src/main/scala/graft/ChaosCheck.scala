package graft

import graft.api.GraftBoost
import graft.data.DMatrixSpec
import graft.learner.{Objective, TrainParams}

/**
 * Fault-tolerance golden check — the Spark analog of the reference's
 * kill-an-actor tests (xgboost_ray/tests/test_fault_tolerance.py:90-124:
 * model after worker failure == model without failure).
 *
 * Here the "worker death" is a task that throws mid-gradient-computation
 * during boosting round 3. Spark's task retry
 * (`spark.task.maxFailures` = 3 via `local[4,3]`) recomputes the lost
 * partition from the cached binned RDD; because cross-round state lives
 * on the driver, the rebuilt task is deterministic and the final model
 * must equal an uninterrupted run bit-for-bit.
 *
 * Runs as a main (not ScalaTest) because the shared test session is
 * `local[4]`, where task retries are off and any failure is fatal.
 * Invoke: `sbt "runMain graft.ChaosCheck"` — prints CHAOS PASS/FAIL
 * and exits 0 on PASS, 1 on FAIL, 2 when the fault never fired.
 */
object ChaosCheck {

  /** One-shot fault, armed per JVM: the first task that evaluates a
    * gradient for round 3 dies; its retry (and everyone else) runs
    * clean. */
  object Fault {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  }

  private final class FaultyObjective(fail: Boolean) extends Objective {
    val name = "custom:squarederror-chaos"
    val numOutputs = 1
    def initMargin(b: Double): Float = b.toFloat
    def transform(m: Array[Float]): Array[Float] = m
    def gradHess(m: Array[Float], y: Float, g: Array[Float],
        h: Array[Float]): Unit = {
      if (fail && Fault.armed.compareAndSet(true, false))
        throw new RuntimeException(
          "CHAOS: injected task failure in gradient computation")
      g(0) = m(0) - y; h(0) = 1.0f
    }
  }

  def main(args: Array[String]): Unit = DevHarness.run(
      // 4 threads, 3 task attempts
      DevHarness.session("local[4,3]", 4, "graft-chaos", "ERROR")) { spark =>
    import spark.implicits._

    val rng = new scala.util.Random(97)
    val df = (1 to 2000).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 3.0 * a - b)
    }.toDF("a", "b", "y").repartition(4)

    def run(fail: Boolean): String = {
      // arm the fault just before round-3 gradients via a callback
      Fault.armed.set(false)
      val cb = new graft.learner.TrainingCallback {
        override def afterIteration(round: Int,
            metrics: Map[String, Double]): Boolean = {
          if (fail && round == 2) Fault.armed.set(true)
          false
        }
      }
      GraftBoost.train(df, DMatrixSpec("y"),
        TrainParams(numRounds = 8, maxDepth = 3, seed = 5,
          customObjective = Some(new FaultyObjective(fail))),
        callbacks = Seq(cb)).model.dump()
    }

    val clean = run(fail = false)
    val chaotic = run(fail = true)

    if (Fault.armed.get()) {
      println("CHAOS INCONCLUSIVE: fault never fired")
      2
    } else {
      val v = new DevHarness.Verdicts
      val ok = clean == chaotic
      println(s"CHAOS ${v(ok)}: " + (if (ok) "model identical after " +
        "injected task failure + retry"
        else "models diverge after failure recovery"))
      v.exitCode
    }
  }
}
