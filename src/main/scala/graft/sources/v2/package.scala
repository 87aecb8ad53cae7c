package graft.sources

package object v2 {
  /** The change feed's name for the shared generation offset. */
  type DirSinkCdfOffset = DirSinkGenOffset
  val DirSinkCdfOffset: DirSinkGenOffset.type = DirSinkGenOffset
}
