"""VADER-style sentiment lexicon + rule constants (public knowledge).

The reference scores sentiment with NLTK VADER
(``Scalable_EDA_Final.py:377-386``).  VADER (Hutto & Gilbert, ICWSM
2014) is a published, MIT-licensed lexicon+rule method; its constants
(caps emphasis +0.733, booster ±0.293 with 0.95/0.9 distance damping,
negation scalar -0.74, exclamation 0.292 each capped at 4, normalization
x/sqrt(x²+15)) are from the paper and the public reference
implementation.

The NLTK data file itself is not in this container, so this module
ships:

1. ``BASE_LEXICON`` — a curated core of common English polarity words
   with VADER-style valences in [-4, 4] (values match the published
   lexicon where widely documented, e.g. good=1.9, great=3.1; otherwise
   they are VADER-consistent editorial values).  This is honest
   public-knowledge data, NOT a byte copy of ``vader_lexicon.txt``.
2. A deterministic inflection expander producing the plural / past /
   progressive / adverb surface forms the real lexicon lists as
   separate entries — yielding a >1,000-entry ``FULL_LEXICON`` that
   exercises the engine's broadcast-join scoring path.
3. ``load_vader_lexicon(path)`` — parser for the standard
   ``vader_lexicon.txt`` TSV format (``token\\tmean\\tstd\\tratings``)
   so a deployment with the real NLTK file gets exact parity by
   passing ``lexicon=load_vader_lexicon(...)``.

``BOOSTERS`` / ``NEGATORS`` follow the public VADER rule dictionaries.
"""

from __future__ import annotations

# rule constants (Hutto & Gilbert 2014, public reference implementation)
C_INCR = 0.733      # ALL-CAPS emphasis added to |valence|
N_SCALAR = -0.74    # negation flip multiplier
B_INCR = 0.293      # booster increment magnitude
B_DECAY = (1.0, 0.95, 0.9)  # damping at token distance 1, 2, 3
EP_UNIT = 0.292     # per-'!' emphasis, capped at 4 marks
QM_UNIT = 0.18      # per-'?' emphasis for 2-3 marks
QM_CAP = 0.96       # '?' emphasis for >3 marks
ALPHA = 15.0        # normalization x / sqrt(x^2 + alpha)

# tags: v = verb (s/ed/ing), n = noun (s), a = adjective (ly adverb)
# (word, valence, tags)
_BASE: list[tuple[str, float, str]] = [
    # --- strong positive ---
    ("magnificent", 3.4, "a"), ("superb", 3.4, "a"), ("outstanding", 3.3, "a"),
    ("best", 3.2, ""), ("awesome", 3.1, "a"), ("great", 3.1, "a"),
    ("amazing", 2.8, "a"), ("excellent", 2.7, "a"), ("exceptional", 2.7, "a"),
    ("brilliant", 2.8, "a"), ("fabulous", 2.9, "a"), ("fantastic", 2.6, "a"),
    ("incredible", 2.6, "a"), ("marvelous", 2.9, "a"), ("perfect", 2.7, "a"),
    ("phenomenal", 3.0, "a"), ("spectacular", 2.9, "a"), ("stellar", 2.8, "a"),
    ("sublime", 2.7, "a"), ("superior", 2.0, "a"), ("terrific", 2.6, "a"),
    ("wonderful", 2.7, "a"), ("flawless", 2.7, "a"), ("splendid", 2.9, "a"),
    ("glorious", 2.8, "a"), ("heavenly", 2.7, "a"), ("divine", 2.5, "a"),
    ("exquisite", 2.8, "a"), ("extraordinary", 2.4, "a"), ("masterpiece", 3.0, "n"),
    ("triumph", 2.6, "n"), ("victory", 2.6, "n"), ("win", 2.8, "v"),
    ("winner", 2.8, "n"), ("champion", 2.4, "n"),
    # --- love / joy family ---
    ("love", 3.2, "v"), ("lovely", 2.8, "a"), ("adore", 2.9, "v"),
    ("cherish", 2.3, "v"), ("delight", 2.5, "v"), ("delightful", 2.8, "a"),
    ("delicious", 2.9, "a"), ("joy", 2.8, "n"), ("joyful", 2.9, "a"),
    ("joyous", 2.8, "a"), ("happy", 2.7, "a"), ("happiness", 2.7, "n"),
    ("glad", 2.0, "a"), ("gladly", 2.0, ""), ("cheerful", 2.5, "a"),
    ("cheer", 2.3, "v"), ("bliss", 2.7, "n"), ("blissful", 2.9, "a"),
    ("ecstatic", 3.0, "a"), ("elated", 2.7, "a"), ("euphoric", 3.0, "a"),
    ("thrilled", 2.8, "a"), ("thrill", 2.3, "v"), ("thrilling", 2.6, "a"),
    ("overjoyed", 3.0, "a"), ("jubilant", 2.8, "a"), ("radiant", 2.3, "a"),
    ("smile", 2.0, "v"), ("laugh", 2.2, "v"), ("laughter", 2.5, "n"),
    ("celebrate", 2.4, "v"), ("celebration", 2.4, "n"), ("party", 1.7, "n"),
    ("fun", 2.3, "n"), ("funny", 1.9, "a"), ("hilarious", 2.3, "a"),
    ("amuse", 1.7, "v"), ("amusing", 1.7, "a"), ("enjoy", 2.2, "v"),
    ("enjoyable", 2.3, "a"), ("pleasure", 2.4, "n"), ("pleasant", 2.3, "a"),
    ("pleased", 2.1, "a"), ("pleasing", 2.1, "a"), ("satisfying", 2.2, "a"),
    ("satisfied", 2.1, "a"), ("satisfaction", 2.2, "n"), ("content", 1.6, "a"),
    ("contented", 1.8, "a"), ("grateful", 2.3, "a"), ("gratitude", 2.3, "n"),
    ("thankful", 2.2, "a"), ("thank", 1.9, "v"), ("thanks", 1.9, ""),
    ("appreciate", 2.0, "v"), ("appreciation", 2.1, "n"),
    # --- positive quality ---
    ("good", 1.9, ""), ("goodness", 2.2, "n"), ("nice", 1.8, "a"),
    ("fine", 0.8, "a"), ("okay", 0.9, ""), ("ok", 0.9, ""),
    ("decent", 1.3, "a"), ("solid", 1.3, "a"), ("strong", 1.5, "a"),
    ("better", 1.9, ""), ("improve", 1.9, "v"), ("improvement", 1.8, "n"),
    ("improved", 2.0, "a"), ("quality", 1.4, "n"), ("value", 1.4, "n"),
    ("valuable", 2.1, "a"), ("worth", 1.4, "n"), ("worthy", 1.9, "a"),
    ("worthwhile", 2.0, "a"), ("beneficial", 1.9, "a"), ("benefit", 1.7, "v"),
    ("advantage", 1.7, "n"), ("useful", 1.9, "a"), ("helpful", 1.8, "a"),
    ("help", 1.7, "v"), ("effective", 1.8, "a"), ("efficient", 1.8, "a"),
    ("reliable", 2.0, "a"), ("dependable", 1.9, "a"), ("trustworthy", 2.3, "a"),
    ("trust", 2.1, "v"), ("honest", 2.3, "a"), ("honesty", 2.5, "n"),
    ("integrity", 2.2, "n"), ("authentic", 1.8, "a"), ("genuine", 1.9, "a"),
    ("fair", 1.5, "a"), ("generous", 2.3, "a"), ("generosity", 2.4, "n"),
    ("kind", 2.4, "a"), ("kindness", 2.5, "n"), ("caring", 2.2, "a"),
    ("care", 1.6, "v"), ("considerate", 2.2, "a"), ("thoughtful", 2.1, "a"),
    ("polite", 2.0, "a"), ("courteous", 2.1, "a"), ("respectful", 2.1, "a"),
    ("respect", 2.1, "v"), ("friendly", 2.2, "a"), ("friend", 2.2, "n"),
    ("welcoming", 2.1, "a"), ("welcome", 2.0, "v"), ("warm", 1.7, "a"),
    ("warmth", 2.0, "n"), ("gentle", 1.9, "a"), ("sweet", 2.0, "a"),
    ("charming", 2.3, "a"), ("charm", 1.9, "n"), ("graceful", 2.1, "a"),
    ("grace", 1.8, "n"), ("elegant", 2.1, "a"), ("elegance", 2.2, "n"),
    ("classy", 2.2, "a"), ("stylish", 1.9, "a"), ("beautiful", 2.9, "a"),
    ("beauty", 2.6, "n"), ("gorgeous", 3.0, "a"), ("stunning", 2.6, "a"),
    ("pretty", 2.2, "a"), ("attractive", 1.9, "a"), ("handsome", 2.2, "a"),
    ("cute", 2.0, "a"), ("adorable", 2.2, "a"),
    # --- positive outcome / experience ---
    ("success", 2.7, "n"), ("successful", 2.6, "a"), ("succeed", 2.4, "v"),
    ("achieve", 1.9, "v"), ("achievement", 2.1, "n"), ("accomplish", 1.9, "v"),
    ("accomplishment", 2.1, "n"), ("progress", 1.6, "n"), ("prosper", 2.2, "v"),
    ("prosperity", 2.4, "n"), ("flourish", 2.2, "v"), ("thrive", 2.2, "v"),
    ("gain", 1.6, "v"), ("reward", 2.1, "v"), ("rewarding", 2.3, "a"),
    ("bonus", 1.9, "n"), ("profit", 1.8, "n"), ("profitable", 1.9, "a"),
    ("rich", 1.8, "a"), ("wealth", 1.9, "n"), ("wealthy", 1.8, "a"),
    ("fortunate", 2.1, "a"), ("fortune", 1.9, "n"), ("lucky", 2.1, "a"),
    ("luck", 1.7, "n"), ("blessed", 2.6, "a"), ("blessing", 2.6, "n"),
    ("miracle", 2.6, "n"), ("hope", 1.9, "v"), ("hopeful", 2.2, "a"),
    ("optimistic", 2.2, "a"), ("optimism", 2.3, "n"), ("promising", 2.0, "a"),
    ("promise", 1.5, "v"), ("bright", 1.9, "a"), ("shine", 1.7, "v"),
    ("recommend", 1.5, "v"), ("recommendation", 1.5, "n"), ("praise", 2.3, "v"),
    ("compliment", 2.0, "v"), ("admire", 2.3, "v"), ("admiration", 2.4, "n"),
    ("impress", 2.1, "v"), ("impressive", 2.3, "a"), ("impressed", 2.2, "a"),
    ("favorite", 2.2, "n"), ("favourite", 2.2, "n"), ("popular", 1.8, "a"),
    ("famous", 1.7, "a"), ("renowned", 2.0, "a"), ("legendary", 2.1, "a"),
    ("iconic", 1.9, "a"), ("epic", 2.0, "a"), ("cool", 1.3, "a"),
    ("neat", 1.7, "a"), ("rad", 2.0, "a"), ("dope", 1.9, "a"),
    ("lit", 1.8, ""),
    # --- comfort / calm ---
    ("comfort", 1.9, "v"), ("comfortable", 2.1, "a"), ("cozy", 2.0, "a"),
    ("relax", 1.9, "v"), ("relaxing", 2.1, "a"), ("relaxed", 1.9, "a"),
    ("calm", 1.6, "a"), ("peaceful", 2.4, "a"), ("peace", 2.5, "n"),
    ("serene", 2.2, "a"), ("tranquil", 2.1, "a"), ("soothing", 2.0, "a"),
    ("safe", 1.8, "a"), ("safety", 1.8, "n"), ("secure", 1.7, "a"),
    ("security", 1.4, "n"), ("stable", 1.3, "a"), ("healthy", 2.1, "a"),
    ("health", 1.6, "n"), ("heal", 1.9, "v"), ("fresh", 1.3, "a"),
    ("clean", 1.7, "a"), ("pure", 1.9, "a"), ("crisp", 1.4, "a"),
    ("tasty", 2.3, "a"), ("yummy", 2.4, "a"), ("flavorful", 2.1, "a"),
    ("savory", 1.7, "a"), ("juicy", 1.5, "a"), ("tender", 1.6, "a"),
    # --- interest / energy ---
    ("interesting", 1.7, "a"), ("interest", 1.4, "v"), ("interested", 1.6, "a"),
    ("fascinating", 2.3, "a"), ("fascinate", 2.0, "v"), ("intriguing", 1.9, "a"),
    ("engaging", 1.8, "a"), ("captivating", 2.3, "a"), ("exciting", 2.2, "a"),
    ("excite", 2.0, "v"), ("excited", 2.3, "a"), ("excitement", 2.4, "n"),
    ("eager", 1.8, "a"), ("enthusiastic", 2.3, "a"), ("enthusiasm", 2.3, "n"),
    ("passionate", 2.2, "a"), ("passion", 2.0, "n"), ("inspire", 2.3, "v"),
    ("inspiring", 2.4, "a"), ("inspiration", 2.4, "n"), ("motivate", 1.9, "v"),
    ("motivating", 2.0, "a"), ("energetic", 1.9, "a"), ("energy", 1.3, "n"),
    ("vibrant", 2.1, "a"), ("lively", 1.9, "a"), ("dynamic", 1.6, "a"),
    ("innovative", 1.9, "a"), ("creative", 1.9, "a"), ("clever", 1.9, "a"),
    ("smart", 1.9, "a"), ("wise", 2.1, "a"), ("wisdom", 2.2, "n"),
    ("brave", 2.1, "a"), ("courage", 2.2, "n"), ("courageous", 2.3, "a"),
    ("bold", 1.4, "a"), ("confident", 2.2, "a"), ("confidence", 2.2, "n"),
    ("proud", 2.1, "a"), ("pride", 1.4, "n"), ("empower", 2.0, "v"),
    ("support", 1.7, "v"), ("supportive", 2.0, "a"), ("encourage", 2.0, "v"),
    ("encouraging", 2.1, "a"), ("uplifting", 2.4, "a"), ("refreshing", 2.1, "a"),
    ("revive", 1.7, "v"), ("rejuvenate", 2.1, "v"),
    # --- agreement / ease ---
    ("agree", 1.5, "v"), ("agreeable", 1.8, "a"), ("approve", 1.8, "v"),
    ("approval", 1.8, "n"), ("accept", 1.5, "v"), ("acceptable", 1.3, "a"),
    ("easy", 1.8, "a"), ("ease", 1.5, "n"), ("effortless", 1.9, "a"),
    ("smooth", 1.5, "a"), ("simple", 1.1, "a"), ("convenient", 1.8, "a"),
    ("convenience", 1.7, "n"), ("accessible", 1.4, "a"), ("affordable", 1.8, "a"),
    ("cheap", 0.8, "a"), ("bargain", 1.7, "n"), ("deal", 1.2, "n"),
    ("free", 1.8, "a"), ("freedom", 2.3, "n"), ("generously", 2.2, ""),
    ("fast", 0.9, "a"), ("quick", 1.1, "a"), ("prompt", 1.4, "a"),
    ("speedy", 1.4, "a"), ("timely", 1.5, "a"),
    # --- strong negative ---
    ("worst", -3.1, ""), ("horrible", -2.5, "a"), ("horrific", -2.9, "a"),
    ("horrid", -2.6, "a"), ("terrible", -2.1, "a"), ("awful", -2.0, "a"),
    ("atrocious", -2.7, "a"), ("abysmal", -2.6, "a"), ("dreadful", -2.6, "a"),
    ("appalling", -2.7, "a"), ("disgusting", -2.4, "a"), ("disgust", -2.4, "v"),
    ("revolting", -2.7, "a"), ("repulsive", -2.6, "a"), ("vile", -2.8, "a"),
    ("nasty", -2.3, "a"), ("gross", -2.1, "a"), ("foul", -2.2, "a"),
    ("rotten", -2.2, "a"), ("putrid", -2.5, "a"), ("hideous", -2.5, "a"),
    ("ugly", -2.2, "a"), ("monstrous", -2.3, "a"), ("evil", -3.0, "a"),
    ("wicked", -2.4, "a"), ("sinister", -2.2, "a"), ("catastrophe", -2.8, "n"),
    ("catastrophic", -2.9, "a"), ("disaster", -2.6, "n"), ("disastrous", -2.8, "a"),
    ("tragedy", -2.8, "n"), ("tragic", -2.7, "a"), ("nightmare", -2.6, "n"),
    ("hell", -2.4, "n"), ("hellish", -2.7, "a"),
    # --- hate / anger ---
    ("hate", -2.7, "v"), ("hatred", -3.0, "n"), ("despise", -2.6, "v"),
    ("loathe", -2.7, "v"), ("detest", -2.6, "v"), ("resent", -2.0, "v"),
    ("resentment", -2.2, "n"), ("angry", -2.3, "a"), ("anger", -2.2, "n"),
    ("furious", -2.7, "a"), ("fury", -2.6, "n"), ("rage", -2.5, "n"),
    ("enraged", -2.7, "a"), ("outraged", -2.5, "a"), ("outrage", -2.4, "n"),
    ("irate", -2.5, "a"), ("livid", -2.6, "a"), ("mad", -2.0, "a"),
    ("annoy", -1.8, "v"), ("annoying", -1.9, "a"), ("annoyed", -1.8, "a"),
    ("annoyance", -1.9, "n"), ("irritate", -2.0, "v"), ("irritating", -2.1, "a"),
    ("irritated", -2.0, "a"), ("aggravate", -2.0, "v"), ("aggravating", -2.1, "a"),
    ("frustrate", -2.1, "v"), ("frustrating", -2.2, "a"), ("frustrated", -2.1, "a"),
    ("frustration", -2.2, "n"), ("infuriating", -2.5, "a"), ("hostile", -2.2, "a"),
    ("hostility", -2.3, "n"), ("aggressive", -1.7, "a"), ("aggression", -2.0, "n"),
    ("bitter", -1.8, "a"), ("spite", -2.1, "n"), ("spiteful", -2.4, "a"),
    ("cruel", -2.6, "a"), ("cruelty", -2.7, "n"), ("brutal", -2.4, "a"),
    ("vicious", -2.4, "a"), ("violent", -2.6, "a"), ("violence", -2.6, "n"),
    ("abuse", -2.7, "v"), ("abusive", -2.7, "a"), ("insult", -2.2, "v"),
    ("insulting", -2.3, "a"), ("offend", -2.0, "v"), ("offensive", -2.2, "a"),
    ("mock", -1.8, "v"), ("ridicule", -2.0, "v"), ("humiliate", -2.4, "v"),
    ("humiliating", -2.5, "a"), ("shame", -2.1, "n"), ("shameful", -2.4, "a"),
    ("disgrace", -2.3, "n"), ("disgraceful", -2.5, "a"),
    # --- sadness / fear ---
    ("sad", -2.1, "a"), ("sadness", -2.2, "n"), ("unhappy", -1.9, "a"),
    ("miserable", -2.5, "a"), ("misery", -2.5, "n"), ("depressed", -2.3, "a"),
    ("depressing", -2.3, "a"), ("depression", -2.4, "n"), ("gloomy", -2.0, "a"),
    ("gloom", -1.9, "n"), ("grim", -1.9, "a"), ("bleak", -1.9, "a"),
    ("hopeless", -2.5, "a"), ("despair", -2.5, "n"), ("desperate", -1.9, "a"),
    ("grief", -2.5, "n"), ("grieve", -2.3, "v"), ("mourn", -2.2, "v"),
    ("sorrow", -2.3, "n"), ("sorrowful", -2.4, "a"), ("heartbroken", -2.8, "a"),
    ("heartbreaking", -2.7, "a"), ("devastated", -2.8, "a"), ("devastating", -2.8, "a"),
    ("cry", -1.9, "v"), ("tears", -1.2, ""), ("weep", -2.0, "v"),
    ("lonely", -2.0, "a"), ("loneliness", -2.2, "n"), ("alone", -1.0, ""),
    ("abandon", -2.1, "v"), ("abandoned", -2.1, "a"), ("fear", -2.2, "n"),
    ("fearful", -2.2, "a"), ("afraid", -2.0, "a"), ("scared", -2.0, "a"),
    ("scary", -2.2, "a"), ("scare", -1.9, "v"), ("frighten", -2.1, "v"),
    ("frightening", -2.3, "a"), ("terrify", -2.6, "v"), ("terrifying", -2.7, "a"),
    ("terrified", -2.6, "a"), ("terror", -2.7, "n"), ("horror", -2.7, "n"),
    ("dread", -2.2, "v"), ("panic", -2.1, "n"), ("anxious", -1.8, "a"),
    ("anxiety", -2.0, "n"), ("worry", -1.8, "v"), ("worried", -1.8, "a"),
    ("worrying", -1.9, "a"), ("nervous", -1.6, "a"), ("stress", -1.9, "n"),
    ("stressful", -2.1, "a"), ("stressed", -1.9, "a"), ("tense", -1.5, "a"),
    ("uneasy", -1.5, "a"), ("insecure", -1.7, "a"), ("threat", -2.1, "n"),
    ("threatening", -2.3, "a"), ("danger", -2.4, "n"), ("dangerous", -2.3, "a"),
    ("risky", -1.3, "a"), ("risk", -1.1, "n"), ("harm", -2.2, "v"),
    ("harmful", -2.3, "a"), ("hurt", -2.1, "v"), ("hurtful", -2.3, "a"),
    ("pain", -2.3, "n"), ("painful", -2.3, "a"), ("suffer", -2.3, "v"),
    ("suffering", -2.4, "n"), ("agony", -2.6, "n"), ("ache", -1.8, "v"),
    ("wound", -1.9, "v"), ("injury", -1.9, "n"), ("injured", -1.9, "a"),
    ("sick", -1.5, "a"), ("ill", -1.6, "a"), ("illness", -1.8, "n"),
    ("disease", -1.9, "n"), ("infection", -1.8, "n"), ("toxic", -2.1, "a"),
    ("poison", -2.2, "n"), ("die", -2.6, "v"), ("death", -2.7, "n"),
    ("dead", -2.4, "a"), ("kill", -2.8, "v"), ("destroy", -2.5, "v"),
    ("destruction", -2.5, "n"), ("ruin", -2.2, "v"), ("ruined", -2.3, "a"),
    ("wreck", -1.9, "v"), ("damage", -1.9, "v"), ("damaged", -1.9, "a"),
    ("broken", -1.9, "a"), ("break", -1.3, "v"), ("crash", -1.7, "v"),
    ("collapse", -1.9, "v"), ("fail", -2.3, "v"), ("failure", -2.4, "n"),
    ("failed", -2.3, "a"), ("lose", -1.9, "v"), ("loss", -1.9, "n"),
    ("lost", -1.6, "a"), ("loser", -2.2, "n"), ("defeat", -1.9, "v"),
    # --- negative quality ---
    ("bad", -2.5, ""), ("worse", -2.1, ""), ("poor", -2.1, "a"),
    ("lousy", -2.1, "a"), ("crappy", -2.3, "a"), ("crap", -2.0, "n"),
    ("garbage", -1.9, "n"), ("trash", -1.8, "n"), ("junk", -1.6, "n"),
    ("rubbish", -1.8, "n"), ("pathetic", -2.3, "a"), ("useless", -1.9, "a"),
    ("worthless", -2.2, "a"), ("pointless", -1.8, "a"), ("inferior", -1.7, "a"),
    ("mediocre", -1.0, "a"), ("subpar", -1.5, "a"), ("shoddy", -1.9, "a"),
    ("sloppy", -1.6, "a"), ("flimsy", -1.4, "a"),
    ("defective", -1.9, "a"), ("defect", -1.6, "n"), ("flaw", -1.4, "n"),
    ("flawed", -1.6, "a"), ("faulty", -1.8, "a"), ("fault", -1.5, "n"),
    ("error", -1.5, "n"), ("mistake", -1.5, "n"), ("wrong", -1.6, "a"),
    ("incorrect", -1.4, "a"), ("inaccurate", -1.3, "a"), ("problem", -1.5, "n"),
    ("problematic", -1.6, "a"), ("issue", -0.9, "n"), ("trouble", -1.7, "n"),
    ("troublesome", -1.8, "a"), ("difficult", -1.3, "a"), ("difficulty", -1.4, "n"),
    ("hard", -0.4, "a"), ("complicated", -1.1, "a"), ("confusing", -1.4, "a"),
    ("confuse", -1.3, "v"), ("confused", -1.3, "a"), ("confusion", -1.4, "n"),
    ("unclear", -1.1, "a"), ("messy", -1.4, "a"), ("mess", -1.5, "n"),
    ("chaos", -1.9, "n"), ("chaotic", -1.9, "a"), ("disorganized", -1.5, "a"),
    ("inconsistent", -1.2, "a"), ("unreliable", -1.8, "a"), ("unstable", -1.5, "a"),
    ("weak", -1.6, "a"), ("weakness", -1.6, "n"), ("fragile", -1.1, "a"),
    ("slow", -0.8, "a"), ("sluggish", -1.4, "a"), ("delay", -1.2, "v"),
    ("delayed", -1.3, "a"), ("late", -1.1, "a"), ("wait", -0.3, "v"),
    ("boring", -1.8, "a"), ("bore", -1.5, "v"), ("bored", -1.6, "a"),
    ("boredom", -1.7, "n"), ("dull", -1.5, "a"), ("tedious", -1.7, "a"),
    ("monotonous", -1.5, "a"), ("bland", -1.3, "a"), ("tasteless", -1.7, "a"),
    ("stale", -1.5, "a"), ("soggy", -1.3, "a"), ("greasy", -1.2, "a"),
    ("cold", -0.4, "a"), ("lukewarm", -0.7, "a"), ("overcooked", -1.5, "a"),
    ("undercooked", -1.6, "a"), ("burnt", -1.4, "a"), ("raw", -0.6, "a"),
    ("dirty", -1.8, "a"), ("filthy", -2.2, "a"), ("grimy", -1.8, "a"),
    ("smelly", -1.8, "a"), ("stink", -1.9, "v"), ("stinky", -2.0, "a"),
    ("noisy", -1.3, "a"), ("loud", -0.6, "a"), ("crowded", -1.0, "a"),
    ("cramped", -1.3, "a"), ("expensive", -0.9, "a"), ("overpriced", -1.8, "a"),
    ("costly", -1.1, "a"), ("pricey", -1.0, "a"), ("ripoff", -2.2, "n"),
    ("scam", -2.4, "n"), ("fraud", -2.6, "n"), ("fraudulent", -2.6, "a"),
    ("fake", -1.9, "a"), ("phony", -2.0, "a"), ("dishonest", -2.3, "a"),
    ("liar", -2.4, "n"), ("lie", -1.8, "v"), ("lying", -2.1, "a"),
    ("deceive", -2.2, "v"), ("deceptive", -2.2, "a"), ("deceit", -2.3, "n"),
    ("cheat", -2.3, "v"), ("steal", -2.4, "v"), ("stolen", -2.2, "a"),
    ("thief", -2.3, "n"), ("corrupt", -2.4, "a"), ("corruption", -2.5, "n"),
    ("greedy", -2.0, "a"), ("greed", -2.1, "n"), ("selfish", -2.1, "a"),
    ("arrogant", -2.1, "a"), ("arrogance", -2.2, "n"), ("rude", -2.0, "a"),
    ("rudeness", -2.1, "n"), ("impolite", -1.9, "a"), ("disrespectful", -2.2, "a"),
    ("disrespect", -2.1, "n"), ("obnoxious", -2.2, "a"), ("unprofessional", -1.9, "a"),
    ("incompetent", -2.1, "a"), ("incompetence", -2.2, "n"), ("careless", -1.7, "a"),
    ("negligent", -2.0, "a"), ("neglect", -1.9, "v"), ("ignorant", -1.9, "a"),
    ("ignore", -1.3, "v"), ("ignored", -1.5, "a"), ("stupid", -2.4, "a"),
    ("stupidity", -2.4, "n"), ("idiot", -2.3, "n"), ("idiotic", -2.4, "a"),
    ("dumb", -2.2, "a"), ("fool", -1.9, "n"), ("foolish", -1.9, "a"),
    ("ridiculous", -1.6, "a"), ("absurd", -1.5, "a"), ("nonsense", -1.6, "n"),
    ("insane", -1.7, "a"), ("crazy", -1.2, "a"),
    # --- disappointment / complaint ---
    ("disappoint", -2.1, "v"), ("disappointing", -2.1, "a"),
    ("disappointed", -2.2, "a"), ("disappointment", -2.2, "n"),
    ("letdown", -1.9, "n"), ("regret", -1.9, "v"), ("regretful", -2.0, "a"),
    ("unfortunate", -1.8, "a"), ("unfortunately", -1.6, ""),
    ("complain", -1.6, "v"), ("complaint", -1.6, "n"), ("criticize", -1.6, "v"),
    ("criticism", -1.5, "n"), ("critical", -1.2, "a"), ("blame", -1.7, "v"),
    ("accuse", -1.7, "v"), ("reject", -1.7, "v"), ("rejection", -1.9, "n"),
    ("rejected", -1.8, "a"), ("refuse", -1.4, "v"), ("refusal", -1.4, "n"),
    ("deny", -1.3, "v"), ("denied", -1.4, "a"), ("cancel", -1.2, "v"),
    ("cancelled", -1.3, "a"), ("canceled", -1.3, "a"), ("avoid", -1.2, "v"),
    ("dislike", -1.6, "v"), ("disapprove", -1.7, "v"), ("disagree", -1.2, "v"),
    ("object", -0.9, "v"), ("protest", -1.1, "v"), ("oppose", -1.2, "v"),
    ("unacceptable", -2.1, "a"), ("intolerable", -2.2, "a"),
    ("unbearable", -2.3, "a"), ("insufferable", -2.3, "a"),
    ("offended", -1.9, "a"), ("upset", -1.9, "a"), ("disturbed", -1.8, "a"),
    ("disturbing", -2.1, "a"), ("disturb", -1.5, "v"), ("bother", -1.4, "v"),
    ("bothered", -1.5, "a"), ("bothersome", -1.7, "a"), ("nuisance", -1.7, "n"),
    ("pest", -1.6, "n"), ("pity", -1.3, "n"), ("pitiful", -2.0, "a"),
    ("shabby", -1.6, "a"), ("grumpy", -1.6, "a"), ("cranky", -1.6, "a"),
    ("moody", -1.3, "a"), ("jealous", -1.7, "a"), ("envy", -1.4, "n"),
    ("envious", -1.5, "a"), ("suspicious", -1.4, "a"), ("doubt", -1.2, "v"),
    ("doubtful", -1.3, "a"), ("skeptical", -1.1, "a"), ("uncertain", -1.0, "a"),
    ("hesitant", -0.9, "a"),
]


def _inflections(word: str, tags: str) -> list[str]:
    """Deterministic surface-form expansion (the real VADER file lists
    inflected forms as separate entries; we generate the regular ones)."""
    out: list[str] = []
    if "v" in tags:
        if word.endswith("e"):
            out += [word + "s", word + "d", word[:-1] + "ing"]
        elif word.endswith("y") and len(word) > 2 and word[-2] not in "aeiou":
            out += [word[:-1] + "ies", word[:-1] + "ied", word + "ing"]
        else:
            out += [word + "s", word + "ed", word + "ing"]
    if "n" in tags:
        if word.endswith(("s", "x", "z", "ch", "sh")):
            out.append(word + "es")
        elif word.endswith("y") and len(word) > 2 and word[-2] not in "aeiou":
            out.append(word[:-1] + "ies")
        else:
            out.append(word + "s")
    if "a" in tags:
        if word.endswith("y") and len(word) > 2 and word[-2] not in "aeiou":
            out.append(word[:-1] + "ily")
        elif word.endswith("le"):
            out.append(word[:-1] + "y")
        elif not word.endswith("ly"):
            out.append(word + "ly")
    return out


def build_full_lexicon() -> dict[str, float]:
    """BASE ∪ regular inflections (explicit entries win on collision)."""
    lex: dict[str, float] = {}
    explicit = {w for w, _, _ in _BASE}
    for word, val, tags in _BASE:
        for form in _inflections(word, tags):
            if form not in explicit:
                lex[form] = val
    for word, val, _ in _BASE:  # explicit entries last → they win
        lex[word] = val
    return lex


FULL_LEXICON: dict[str, float] = build_full_lexicon()


def load_vader_lexicon(path: str) -> dict[str, float]:
    """Parse the standard ``vader_lexicon.txt`` TSV
    (``token<TAB>mean_valence<TAB>stddev<TAB>raw_ratings``) so
    deployments with the real NLTK data file get exact parity:
    ``vader_score(df, lexicon=load_vader_lexicon(path))``.
    """
    lex: dict[str, float] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            if len(parts) >= 2 and parts[0]:
                try:
                    lex[parts[0].lower()] = float(parts[1])
                except ValueError:
                    continue
    return lex


# Booster (intensifier/dampener) dictionary — public VADER rule data.
BOOSTERS: dict[str, float] = {
    # amplifiers (+B_INCR)
    "absolutely": B_INCR, "amazingly": B_INCR, "awfully": B_INCR,
    "completely": B_INCR, "considerably": B_INCR, "decidedly": B_INCR,
    "deeply": B_INCR, "enormously": B_INCR, "entirely": B_INCR,
    "especially": B_INCR, "exceptionally": B_INCR, "extremely": B_INCR,
    "fabulously": B_INCR, "fully": B_INCR, "greatly": B_INCR,
    "hella": B_INCR, "highly": B_INCR, "hugely": B_INCR,
    "incredibly": B_INCR, "intensely": B_INCR, "majorly": B_INCR,
    "more": B_INCR, "most": B_INCR, "particularly": B_INCR,
    "purely": B_INCR, "quite": B_INCR, "really": B_INCR,
    "remarkably": B_INCR, "so": B_INCR, "substantially": B_INCR,
    "thoroughly": B_INCR, "totally": B_INCR, "tremendously": B_INCR,
    "uber": B_INCR, "unbelievably": B_INCR, "unusually": B_INCR,
    "utterly": B_INCR, "very": B_INCR,
    # dampeners (-B_INCR)
    "almost": -B_INCR, "barely": -B_INCR, "hardly": -B_INCR,
    "kinda": -B_INCR, "kindof": -B_INCR, "less": -B_INCR,
    "little": -B_INCR, "marginally": -B_INCR, "occasionally": -B_INCR,
    "partly": -B_INCR, "scarcely": -B_INCR, "slightly": -B_INCR,
    "somewhat": -B_INCR, "sorta": -B_INCR, "sortof": -B_INCR,
}

# Negation tokens — public VADER rule data (apostrophes survive our
# token-edge punctuation strip, so both n't forms are listed).
NEGATORS: frozenset[str] = frozenset({
    "aint", "ain't", "arent", "aren't", "cannot", "cant", "can't",
    "couldnt", "couldn't", "darent", "daren't", "didnt", "didn't",
    "doesnt", "doesn't", "dont", "don't", "hadnt", "hadn't", "hasnt",
    "hasn't", "havent", "haven't", "isnt", "isn't", "mightnt",
    "mightn't", "mustnt", "mustn't", "neither", "neednt", "needn't",
    "never", "none", "nope", "nor", "not", "nothing", "nowhere",
    "oughtnt", "oughtn't", "shant", "shan't", "shouldnt", "shouldn't",
    "uhuh", "uh-uh", "wasnt", "wasn't", "werent", "weren't", "without",
    "wont", "won't", "wouldnt", "wouldn't", "rarely", "seldom",
    "despite",
})
