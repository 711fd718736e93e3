package graft

import org.scalatest.funsuite.AnyFunSuite

/** The guard that keeps `GroupsWithState` calls in `src/main` inside
  * [[graft.streaming.KeyedState]]: its `maintain` and `evicting` run
  * every streaming twin's keyed state, so a new hand-written one needs
  * an allowlist entry saying why neither fits.
  */
class KeyedStateSpec extends AnyFunSuite {

  /** Raw keyed-state calls outside KeyedState, by file and enclosing
    * member, with the reason each stays. */
  private val allowed = Map(
    "streaming/Streams.scala:userRunningState" ->
      ("the one mapGroupsWithState example: it emits the updated state for every key " +
        "in every batch, changed or not, and its spec names the API"),
    "streaming/Streams.scala:streamingLastTouch" ->
      ("every conversion emits its attribution row, also when the held touch is unchanged, " +
        "so maintain's emit-on-change rule would drop it"))

  test("GroupsWithState calls in src/main live in KeyedState or the allowlist") {
    SourceSites.assertAllowed("GroupsWithState calls",
      SourceSites("""GroupsWithState\(""".r, owner = "KeyedState.scala"), allowed)
  }
}
