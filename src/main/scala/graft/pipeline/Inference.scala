package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoder}

/** The batched-inference operator shell (SURVEY §2.9): every reference
  * model (VAD, separation, diarization, embedding, ASR, DNSMOS) becomes a
  * `Dataset[I] => Dataset[O]` transform that
  *
  *  - holds ONE model session per executor JVM (loaded lazily, cached in
  *    [[ModelCache]] — the reference loads a model copy per thread,
  *    `vad_multi.py:50`; one per executor is the cluster analog),
  *  - feeds the model fixed-size batches inside `mapPartitions` (X9 —
  *    `whisper_asr.py:156-165` batching), and
  *  - never crosses the driver: 1000 executors run 1000 sessions.
  *
  * Models here are deterministic mocks ([[MockModels]]) — the ONNX/JVM
  * runtimes for the real weights are not in this environment (SURVEY
  * §7.4.4); the relational algebra around the kernel is the deliverable
  * and is exercised end-to-end with the mocks.
  */
trait BatchModel[I, O] extends Serializable {
  def name: String
  def predictBatch(xs: Seq[I]): Seq[O]
}

/** Per-executor lazy model session cache (thread-safe). Uses
  * `computeIfAbsent` for AT-MOST-ONCE load evaluation: with N task
  * threads racing, `TrieMap.getOrElseUpdate` keeps one winner but may
  * evaluate `load` N times — N copies of a heavyweight model session,
  * N−1 of them leaked. Here the first thread loads, the rest block.
  */
object ModelCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  def getOrCreate[M <: AnyRef](name: String)(load: => M): M =
    cache.computeIfAbsent(name, _ => load).asInstanceOf[M]

  /** Caches `model` under `name` (or drops the entry if null) and returns
    * what was there before (null if nothing): a test wraps the cached
    * session to watch its calls, then puts the old one back.
    */
  private[graft] def swap(name: String, model: AnyRef): AnyRef =
    if (model == null) cache.remove(name) else cache.put(name, model)
}

object InferenceOp {

  /** 1→1 batched inference (M2/M4/M7/M10 shape). `load` runs once per
    * executor; batches bound peak memory regardless of partition size.
    */
  def mapBatched[I, O: Encoder](ds: Dataset[I], modelName: String,
                                load: () => BatchModel[I, O],
                                batchSize: Int = 32): Dataset[O] =
    ds.mapPartitions { it =>
      val model = ModelCache.getOrCreate(modelName)(load())
      it.grouped(batchSize).flatMap(b => model.predictBatch(b))
    }
}
