package perfbench

import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.connect.{FhirStore, InMemoryFhirStore, StoreRef}

/** Store calls the program made, across every executor thread. */
object StoreCounts {
  val creates, updates, reads, searches, nanos = new AtomicLong
  /** time each call too (traced runs only) */
  @volatile var timing = false

  def snapshot(): Map[String, Double] = Map(
    "connect.creates" -> creates.get.toDouble,
    "connect.updates" -> updates.get.toDouble,
    "connect.reads" -> reads.get.toDouble,
    "connect.searches" -> searches.get.toDouble,
    "connect.store_s" -> nanos.get / 1e9)

  private[perfbench] val mapper = new ObjectMapper
}

/** The benchmark's handle on an [[InMemoryFhirStore]]: counts every call
  * and, like a FHIR server, writes the id it assigns on create into the
  * stored resource, so a later search returns it.
  */
final case class CountingStoreRef(name: String) extends StoreRef {
  def store: FhirStore = new CountingStore(InMemoryFhirStore.named(name))
}

final class CountingStore(inner: FhirStore) extends FhirStore {
  import StoreCounts._

  private def call[T](n: AtomicLong)(body: => T): T = {
    n.incrementAndGet()
    if (!timing) body
    else {
      val t = System.nanoTime()
      try body finally nanos.addAndGet(System.nanoTime() - t)
    }
  }

  override def create(resourceType: String, json: String): String =
    call(creates) {
      val id = inner.create(resourceType, json)
      val node = mapper.readTree(json).asInstanceOf[ObjectNode]
      node.put("id", id)
      inner.update(resourceType, id, mapper.writeValueAsString(node))
      id
    }
  override def update(resourceType: String, id: String, json: String): Unit =
    call(updates)(inner.update(resourceType, id, json))
  override def delete(resourceType: String, id: String): Unit =
    inner.delete(resourceType, id)
  override def read(resourceType: String, id: String): Option[String] =
    call(reads)(inner.read(resourceType, id))
  override def search(resourceType: String, param: (String, String)*): Seq[String] =
    call(searches)(inner.search(resourceType, param: _*))
}
