package graft

package object eos {

  /** A relay coordinate: (stream/topic/file name, shard/partition). */
  type Coord = (String, Int)
}
