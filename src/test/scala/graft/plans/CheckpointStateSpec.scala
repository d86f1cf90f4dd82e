package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Event

/** The per-operator checkpoint-state decoders must turn a wrong-shape
  * payload (a checkpoint written by a build whose state shape changed
  * without a StateVersion bump) into a directed error naming the operator
  * and the fix — not a bare ClassCastException deep inside the operator.
  * A wrong-shape payload cannot be injected through a real checkpoint, so
  * the decoders are exercised directly (they are package-visible for this).
  */
class CheckpointStateSpec extends AnyFunSuite {

  private val goodEvents: List[Event[Any]] =
    List(Event(None, Some("x": Any)))

  test("null state decodes to each operator's empty state") {
    assert(StreamingLowering.decodeChopState(null) == ((0, Nil)))
    assert(StreamingLowering.decodeChopTimeState(null) == ((Long.MinValue, Nil)))
    assert(StreamingLowering.decodeSlidingState(null) ==
      ((0, scala.collection.immutable.Queue.empty[Event[Any]])))
    assert(StreamingLowering.decodeSlidingTimeState(null) ==
      scala.collection.immutable.Queue.empty[Event[Any]])
    assert(StreamingLowering.decodeZipJoinState(null) == ((Nil, Nil)))
    assert(StreamingLowering.decodeGenericWindowState(null) == ((0, 0, None, Nil)))
  }

  test("well-shaped state round-trips through each decoder") {
    assert(StreamingLowering.decodeChopState((3, goodEvents)) == ((3, goodEvents)))
    assert(StreamingLowering.decodeChopTimeState((7L, goodEvents)) == ((7L, goodEvents)))
    val q = scala.collection.immutable.Queue(goodEvents.head)
    assert(StreamingLowering.decodeSlidingState((1, q)) == ((1, q)))
    assert(StreamingLowering.decodeSlidingTimeState(q) == q)
    val zj = (List((None: Option[java.sql.Timestamp]) -> ("l": Any)), List("r": Any))
    assert(StreamingLowering.decodeZipJoinState(zj) == zj)
    assert(StreamingLowering.decodeGenericWindowState(
      (2, 77, Some(goodEvents.head), goodEvents)) ==
      ((2, 77, Some(goodEvents.head), goodEvents)))
  }

  test("wrong-shape state yields a directed incompatible-checkpoint error") {
    // an old build that kept chop state as a bare count (no buffer)
    val e1 = intercept[IllegalStateException] {
      StreamingLowering.decodeChopState(42: Any)
    }
    assert(e1.getMessage.contains("incompatible streaming checkpoint state"))
    assert(e1.getMessage.contains("'chop'"))
    assert(e1.getMessage.contains("fresh checkpointLocation"))
    assert(e1.getCause.isInstanceOf[ClassCastException])

    val e2 = intercept[IllegalStateException] {
      StreamingLowering.decodeChopTimeState(("origin", goodEvents): Any)
    }
    assert(e2.getMessage.contains("'chopTime'"))

    val e3 = intercept[IllegalStateException] {
      StreamingLowering.decodeSlidingState((1, goodEvents): Any) // List, not Queue
    }
    assert(e3.getMessage.contains("'sliding'"))

    val e4 = intercept[IllegalStateException] {
      StreamingLowering.decodeSlidingTimeState(goodEvents: Any)
    }
    assert(e4.getMessage.contains("'slidingTime'"))

    val e5 = intercept[IllegalStateException] {
      StreamingLowering.decodeZipJoinState((Map.empty[String, Int], Nil): Any)
    }
    assert(e5.getMessage.contains("'zip-join'"))

    // the v3 shape (no last-emitted window) against the v4 decoder
    val e6 = intercept[IllegalStateException] {
      StreamingLowering.decodeGenericWindowState((2, 77, goodEvents): Any)
    }
    assert(e6.getMessage.contains("'generic-window'"))
  }

  test("a stateful run's per-stage state vector decodes, null and well-shaped") {
    assert(StreamingLowering.decodeRunState(null, 2) == Vector(null, null))
    val v = Vector((3, goodEvents), null, 7L)
    assert(StreamingLowering.decodeRunState(v, 3) == v)
    // the per-stage payload still goes through its operator's decoder
    assert(StreamingLowering.decodeChopState(
      StreamingLowering.decodeRunState(v, 3).head) == ((3, goodEvents)))
  }

  test("a v4-shaped or wrong-arity run state yields the directed error naming v5") {
    // v4 stored one operator's state bare, e.g. chop's (count, window)
    val e1 = intercept[IllegalStateException] {
      StreamingLowering.decodeRunState((3, goodEvents): Any, 1)
    }
    assert(e1.getMessage.contains("incompatible streaming checkpoint state"))
    assert(e1.getMessage.contains("'stateful-run'"))
    assert(e1.getMessage.contains("graft-state-v5"))
    assert(e1.getMessage.contains("fresh checkpointLocation"))
    // a run whose stage count changed since the checkpoint was written
    val e2 = intercept[IllegalStateException] {
      StreamingLowering.decodeRunState(Vector((3, goodEvents)): Any, 2)
    }
    assert(e2.getMessage.contains("a Vector of 2 per-stage states"))
    assert(e2.getMessage.contains("of 1"))
    // a per-stage sequence of the wrong collection type
    val e3 = intercept[IllegalStateException] {
      StreamingLowering.decodeRunState(List(null, null): Any, 2)
    }
    assert(e3.getMessage.contains("'stateful-run'"))
  }

  test("the error names the current state encoding version") {
    val e = intercept[IllegalStateException] {
      StreamingLowering.decodeChopState("not a tuple": Any)
    }
    assert(e.getMessage.contains(StreamingLowering.StateVersion))
  }
}
