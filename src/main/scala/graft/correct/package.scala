package graft

package object correct {
  /** The noisy-channel corrector: the one memoized corrector over a
    * broadcast [[NoisyChannelModel]]. */
  type NoisyChannelCorrector = MemoCorrector
}
