package graft.score

/** The 19-way directional relation label space of the reference
  * (semeval_data_helper.py:208-229): 9 relation families × 2 directions plus
  * 'Other' fixed last. Ids are positional, matching create_label2int.
  */
object Labels {
  val all: IndexedSeq[String] = IndexedSeq(
    "Cause-Effect(e1,e2)",
    "Cause-Effect(e2,e1)",
    "Product-Producer(e1,e2)",
    "Product-Producer(e2,e1)",
    "Entity-Origin(e1,e2)",
    "Entity-Origin(e2,e1)",
    "Instrument-Agency(e1,e2)",
    "Instrument-Agency(e2,e1)",
    "Component-Whole(e1,e2)",
    "Component-Whole(e2,e1)",
    "Content-Container(e1,e2)",
    "Content-Container(e2,e1)",
    "Entity-Destination(e1,e2)",
    "Entity-Destination(e2,e1)",
    "Member-Collection(e1,e2)",
    "Member-Collection(e2,e1)",
    "Message-Topic(e1,e2)",
    "Message-Topic(e2,e1)",
    "Other")

  val other: String = "Other"

  def id(label: String): Int = all.indexOf(label)

  /** Inverse relation lookup (data_helper.py:70-80):
    * Rel(e1,e2) ↔ Rel(e2,e1); 'Other' is its own inverse.
    */
  def inverse(label: String): String =
    if (label == other) other
    else if (label.endsWith("(e1,e2)")) label.stripSuffix("(e1,e2)") + "(e2,e1)"
    else label.stripSuffix("(e2,e1)") + "(e1,e2)"

  /** Directional → bidirectional collapse (experiment_helper.py:91-117):
    * strip the direction suffix; 'Other' forced last.
    */
  def collapse(label: String): String =
    if (label == other) other else label.takeWhile(_ != '(')
}
