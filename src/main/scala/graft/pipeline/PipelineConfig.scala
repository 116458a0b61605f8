package graft.pipeline

/** S6 — the reference's config surface as one typed case class: JSON/YAML
  * files and CLI overrides become plan parameters (SURVEY §1.5
  * "config-over-code parameter binding", §3.1).
  *
  * Defaults are the in-code defaults of the reference modules;
  * [[PipelineConfig.production]] applies the production overrides from
  * `scripts/data_pipeline.sh:48` (the thresholds the reference passes on
  * the diarization CLI) exactly as the shell script does.
  */
final case class PipelineConfig(
    // stage 1 — VAD (vad_multi.py:33-37,66)
    vadPadSec: Double = 0.1,
    // stage 2 — separation economy + windows (separation_filter.py:281-302)
    separationMergeGapSec: Double = 5.0,
    separationMergeCapSec: Double = 60.0,
    windowSec: Double = 3.0,
    hopSec: Double = 1.0,
    // stage 3 — purity/silence thresholds (diarization.py:175-203)
    vRatioThreshold: Double = 0.95,
    nvRatioThreshold: Double = 0.005,
    silenceEnergyThreshold: Double = 1e-3,
    silencePeakThreshold: Double = 1e-2,
    diarMergeGapSec: Double = 5.0,
    diarMergeCapSec: Double = 1000.0,
    // stage 4 — rematch limits (speaker_rematch.py:25-43,117,272-281)
    rematchChunkMinSec: Double = 3.0,
    rematchMergedCapSec: Double = 20.0,
    rematchMinChunks: Int = 5,
    clusterSizeRatio: Double = 0.04,
    clusterSimThreshold: Double = 0.75,
    softRescueThreshold: Double = 0.2,
    // stage 5 — host match (host_rematch.py:19,55,91)
    hostBudgetSec: Double = 180.0)

object PipelineConfig {
  /** Production overrides, `scripts/data_pipeline.sh:48`. */
  val production: PipelineConfig = PipelineConfig(
    vRatioThreshold = 0.995,
    nvRatioThreshold = 0.0005,
    silenceEnergyThreshold = 1e-4,
    silencePeakThreshold = 1e-3)
}
